"""Driver-facing query registry.

One entry per implemented operator family from SURVEY.md §2, each as a
(spark_fn, oracle_sql) pair. The Spark side exercises the engine's
library code (clinpy_spark.functions / operators); the oracle is ANSI
SQL DuckDB runs on the same parquet tables. Column names are aliased
identically on both sides (the driver hash-compares by sorted column
name). Float aggregates are rounded on BOTH sides to dodge summation-
order ULP drift; integer sums are cast to BIGINT in DuckDB (its SUM
returns HUGEINT) so types line up.

Queries with no oracle entry (minhash/LSH-pair-emitter/multimodal) are
non-SQL-expressible; the driver records a rows-only check for those.
Operators whose only non-portable primitive was the xxhash64 token hash
(rolling fingerprint, simhash) run in portable md5-derived-hash mode so
they ARE oracled; the approximate ANN operators carry oracled RECALL
CONTRACTS (sim_recall_*) instead of value equality.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clinpy_spark.functions.ids import hash_id
from clinpy_spark.functions.time import epoch_seconds
from clinpy_spark.functions.intervals import (
    binned_interval_join,
    interval_overlaps,
    overlap_fraction,
)
from clinpy_spark.functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    lang_id,
    prefix_fingerprint,
    punct_ratio,
    token_count,
    upper_ratio,
)
from clinpy_spark.operators.dedup import (
    exact_dedup_stats,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from clinpy_spark.functions.vectors import cosine_similarity
from clinpy_spark.operators.similarity import brute_force_topk, lsh_topk
from clinpy_spark.operators.windows import sessionize, tumbling_counts
from clinpy_spark.operators.multimodal import as_media, extract_features, frame_sample
from clinpy_spark.session import session_catalog

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def dsum(expr, scale: int = 4):
    """Cross-engine-exact money sum: the true value of a price*(1-disc)
    style product has <= ``scale`` decimal digits, so casting each term
    to DECIMAL(18,scale) is exact (the double is within 1e-8 of the true
    value), the decimal SUM is exact, and the final DOUBLE cast of the
    same exact decimal is bit-identical in Spark and DuckDB. Rounding a
    double sum instead fails ~1% of the time on .xx50 boundaries.
    """
    return F.sum(expr.cast(f"decimal(18,{scale})")).cast("double")


def DSUM(sql_expr: str, scale: int = 4) -> str:
    """SQL twin of :func:`dsum` for the DuckDB oracles."""
    return f"CAST(sum(CAST({sql_expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"

# Same regex char class; the SQL variant doubles the single quote for the
# DuckDB string literal.
_PUNCT_RE = "[.,;:!?'\"()\\[\\]{}-]"
_PUNCT_RE_SQL = "[.,;:!?''\"()\\[\\]{}-]"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh read of star table ``name`` through the session's catalog
    over ``sf_dir`` (session.py): its schema is inferred once per table
    version, so a warm build runs no Spark job."""
    catalog = session_catalog(spark, sf_dir)
    if name == "events":
        # The events table is written with TIMESTAMP(NANOS), which the
        # Spark parquet reader rejects; read nanos as long and truncate
        # to microseconds (exactly what DuckDB's reader does).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = catalog.read(name)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return catalog.read(name)


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLE: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn
    return deco


# ---------------------------------------------------------------------------
# Flagship (SURVEY.md §7 step 1): two-hop semi + fk join + group aggregate —
# the reference's canonical Junctions.select/Project.__str__ shape
# (junction.py:37-61, project.py:60-66) on the star schema.
# ---------------------------------------------------------------------------

@q("flagship_cohort_revenue", f"""
SELECT c_mktsegment, o_orderpriority,
       count(DISTINCT o_orderkey) AS n_orders,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
GROUP BY c_mktsegment, o_orderpriority
""")
def flagship_cohort_revenue(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # no broadcast hint: customer scales with SF — AQE broadcasts it
        # while it fits and falls back to shuffle join beyond.
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# P family — projections / filters / scalar expressions (SURVEY.md §2.2)
# ---------------------------------------------------------------------------

@q("p_projection_filter", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
""")
def p_projection_filter(spark, sf):
    # P1+P4: projection + conjunctive equality (junction.py:92-93).
    return (
        _t(spark, sf, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_orderpriority") == "1-URGENT"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@q("p_isin", """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
""")
def p_isin(spark, sf):
    # P3: IN-list membership (junction.py:46-57).
    return (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@q("v_filter_spec", """
SELECT p_partkey, p_name, p_size, p_retailprice
FROM part
WHERE (p_size >= 40 OR p_brand IN ('Brand#11', 'Brand#22'))
  AND p_name LIKE '%e%'
  AND p_type ILIKE '%o%'
  AND NOT (p_brand = 'Brand#33')
  AND p_retailprice <= 980.0
  AND p_type IS NOT NULL
""")
def v_filter_spec(spark, sf):
    # Declarative filter-spec compiler (r7 verdict #4; reference
    # variants.py:53-81 sqlalchemy-filters vocabulary): the WHOLE WHERE
    # clause arrives as data — spec dicts with and/or/not combinators,
    # like/ilike, in, is_not_null — and functions/filters.py compiles it
    # to one boolean Column. Catalyst treats the result exactly like
    # hand-written predicates (pushdown into the parquet scan), so
    # config-driven pipelines pay nothing for the indirection.
    from clinpy_spark.functions.filters import specs_to_column

    specs = [
        {"or": [{"field": "p_size", "op": ">=", "value": 40},
                {"field": "p_brand", "op": "in",
                 "value": ["Brand#11", "Brand#22"]}]},
        {"field": "p_name", "op": "like", "value": "%e%"},
        {"field": "p_type", "op": "ilike", "value": "%o%"},
        {"not": [{"field": "p_brand", "op": "==", "value": "Brand#33"}]},
        {"field": "p_retailprice", "op": "<=", "value": 980.0},
        {"field": "p_type", "op": "is_not_null"},
    ]
    return (
        _t(spark, sf, "part")
        .filter(specs_to_column(specs))
        .select("p_partkey", "p_name", "p_size", "p_retailprice")
    )


@q("p_between", """
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
""")
def p_between(spark, sf):
    # P6 intent: point-in-range BETWEEN (variants.py:91-93, bug fixed).
    return (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select("l_orderkey", "l_linenumber", "l_shipdate")
    )


@q("p_case_recode", """
SELECT CASE WHEN l_linenumber % 3 = 1 THEN '+'
            WHEN l_linenumber % 3 = 2 THEN '-'
            ELSE '.' END AS strand,
       count(*) AS n
FROM lineitem
GROUP BY strand
""")
def p_case_recode(spark, sf):
    # P9: STAR strand recode 0/1/2 -> ./+/- as a when-chain, no UDF
    # (rna_functions.py:5-13).
    code = F.col("l_linenumber") % 3
    strand = F.when(code == 1, "+").when(code == 2, "-").otherwise(".")
    return (
        _t(spark, sf, "lineitem")
        .groupBy(strand.alias("strand"))
        .agg(F.count("*").alias("n"))
    )


@q("p_coerce_floor", """
SELECT event_type,
       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor,
       count(*) AS n
FROM events
GROUP BY event_type
""")
def p_coerce_floor(spark, sf):
    # P10: config-driven numeric coercion (snp_functions.py:55-78).
    return (
        _t(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.floor("value")).alias("sum_floor"),
            F.count("*").alias("n"),
        )
    )


@q("s17_coverage_bins", """
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 60) AS BIGINT) AS e
  FROM events WHERE event_type = 'view'
),
bins AS (
  SELECT unnest(range(s // 3600, e // 3600 + 1)) AS bin FROM iv WHERE e >= s)
SELECT bin, CAST(count(*) AS BIGINT) AS depth
FROM bins GROUP BY bin HAVING count(*) >= 5
""")
def s17_coverage_bins(spark, sf):
    # Coverage/pileup depth: how many intervals overlap each fixed-width
    # bin — the genomics read-depth / concurrent-sessions shape. One
    # bin explode (bounded by interval length / bin width) + one count
    # aggregate; no self-join, no window. At 100 TB this is the
    # interval-aggregation dual of binned_interval_join: same binning,
    # aggregate instead of pair emission.
    from clinpy_spark.functions.intervals import with_bins

    ev = _t(spark, sf, "events").filter(F.col("event_type") == "view")
    iv = ev.select(
        epoch_seconds("ts").alias("s"),
        (epoch_seconds("ts") + F.floor(F.col("value") * 60).cast("long")).alias("e"),
    )
    binned = with_bins(iv, "s", "e", bin_size=3600, bin_col="bin")
    return (
        binned.groupBy("bin").agg(F.count("*").alias("depth"))
        .filter(F.col("depth") >= 5)
    )


@q("p_overlap_predicate", """
SELECT o_orderkey, o_orderdate
FROM orders
WHERE o_orderdate + INTERVAL 30 DAY >= TIMESTAMP '1996-03-01'
  AND o_orderdate <= TIMESTAMP '1996-04-15'
""")
def p_overlap_predicate(spark, sf):
    # P5: interval-overlap predicate (junction.py:94): order window
    # [orderdate, orderdate+30d] overlaps the query window.
    return (
        _t(spark, sf, "orders")
        .filter(
            (F.expr("o_orderdate + INTERVAL 30 DAYS") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit("1996-04-15").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate")
    )


# ---------------------------------------------------------------------------
# J family — joins (SURVEY.md §2.3)
# ---------------------------------------------------------------------------

@q("j1_fk_join", """
SELECT o_orderstatus, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""")
def j1_fk_join(spark, sf):
    # J1/J2: fact-to-fact fk equi-join (junction.py:42, variants.py:93-95).
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@q("j4_multikey_natural", f"""
WITH brand_size AS (
  SELECT p_brand, p_size, count(*) AS n_in_class,
         {DSUM('p_retailprice', 2)} AS tot_price
  FROM part GROUP BY p_brand, p_size
)
SELECT p_partkey, part.p_brand, part.p_size, n_in_class, tot_price
FROM part JOIN brand_size
  ON part.p_brand = brand_size.p_brand AND part.p_size = brand_size.p_size
""")
def j4_multikey_natural(spark, sf):
    # J4/J5: multi-column natural-key join (rna_functions.py:92-97).
    part = _t(spark, sf, "part")
    brand_size = part.groupBy("p_brand", "p_size").agg(
        F.count("*").alias("n_in_class"),
        dsum(F.col("p_retailprice"), 2).alias("tot_price"),
    )
    return part.join(brand_size, ["p_brand", "p_size"]).select(
        "p_partkey", "p_brand", "p_size", "n_in_class", "tot_price"
    )


@q("j6_anti_new_parts", """
SELECT p_partkey, p_name
FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
""")
def j6_anti_new_parts(spark, sf):
    # J6: anti-join new-entity detection (rna_functions.py:77-90;
    # snp_functions.py:247-262 — the `is None` bug fixed as left_anti).
    part = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_anti").select("p_partkey", "p_name")


@q("j7_semi_cohort", """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
)
GROUP BY o_orderpriority
""")
def j7_semi_cohort(spark, sf):
    # J7: two-hop semi-join through the dimension (junction.py:44-57).
    cohort = (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = _t(spark, sf, "orders")
    return (
        orders.join(cohort, orders.o_custkey == cohort.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@q("j9_left_enrich", """
SELECT p_partkey, p_name, part_rev
FROM part
LEFT JOIN (
  SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_rev
  FROM lineitem GROUP BY l_partkey
) ON p_partkey = l_partkey
""")
def j9_left_enrich(spark, sf):
    # J9: left-outer enrichment (junction.py:326-335).
    part = _t(spark, sf, "part")
    per_part = (
        _t(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("part_rev"))
    )
    return part.join(per_part, part.p_partkey == per_part.l_partkey, "left").select(
        "p_partkey", "p_name", "part_rev"
    )


@q("j10_interval_binned", """
SELECT p.event_id AS purchase_id, count(*) AS n_clicks
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND CAST(floor(epoch(c.ts)) AS BIGINT)
     BETWEEN CAST(floor(epoch(p.ts)) AS BIGINT)
         AND CAST(floor(epoch(p.ts)) AS BIGINT) + 3600
GROUP BY p.event_id
""")
def j10_interval_binned(spark, sf):
    # J10/J14 machinery at scale: point-in-interval join via the binned
    # range join (equi-join on (user, time-bin) then exact filter) —
    # replaces the BroadcastNestedLoop plan (SURVEY.md §4.2).
    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), epoch_seconds("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        epoch_seconds("ts").alias("p_start"),
        (epoch_seconds("ts") + 3600).alias("p_end"),
    )
    joined = binned_interval_join(
        clicks, purchases,
        left_start="c_ts", left_end=None,
        right_start="p_start", right_end="p_end",
        partition_keys=[("c_user", "p_user")],
        bin_size=3600,
    )
    return joined.groupBy("purchase_id").agg(F.count("*").alias("n_clicks"))


@q("j10b_interval_left", """
WITH p AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
           FROM events WHERE event_type = 'click')
SELECT p.event_id AS purchase_id, count(c.t) AS n_clicks
FROM p LEFT JOIN c
  ON c.user_id = p.user_id AND c.t BETWEEN p.t AND p.t + 3600
GROUP BY p.event_id
""")
def j10b_interval_left(spark, sf):
    # LEFT variant of the binned range join (de-binned padding): every
    # purchase keeps a row even with zero clicks in its window — the
    # outer-join case the r2 API refused now implemented correctly
    # (inner + anti-join null padding, functions/intervals.py).
    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        epoch_seconds("ts").alias("p_start"),
        (epoch_seconds("ts") + 3600).alias("p_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        epoch_seconds("ts").alias("c_s"),
        epoch_seconds("ts").alias("c_e"),
    )
    joined = binned_interval_join(
        purchases, clicks,
        left_start="p_start", left_end="p_end",
        right_start="c_s", right_end="c_e",
        partition_keys=[("p_user", "c_user")],
        bin_size=3600, how="left",
    )
    return joined.groupBy("purchase_id").agg(F.count("c_s").alias("n_clicks"))


@q("j10c_interval_full", """
WITH c AS (SELECT user_id AS c_user, CAST(floor(epoch(ts)) AS BIGINT) AS c_ts
           FROM events WHERE event_type = 'click'),
     p AS (SELECT event_id AS purchase_id, user_id AS p_user,
                  CAST(floor(epoch(ts)) AS BIGINT) AS p_start,
                  CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS p_end
           FROM events WHERE event_type = 'purchase')
SELECT p.purchase_id, c.c_user, c.c_ts
FROM c FULL JOIN p
  ON c.c_user = p.p_user AND c.c_ts BETWEEN p.p_start AND p.p_end
""")
def j10c_interval_full(spark, sf):
    # FULL variant of the binned range join: both unmatched clicks and
    # zero-click purchases survive, null-padded — the symmetric
    # anti-join padding (functions/intervals.py) that closed the
    # right/full raise. Same de-binned construction as 'left', applied
    # to both sides; no BroadcastNestedLoop anywhere.
    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), epoch_seconds("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        epoch_seconds("ts").alias("p_start"),
        (epoch_seconds("ts") + 3600).alias("p_end"),
    )
    joined = binned_interval_join(
        clicks, purchases,
        left_start="c_ts", left_end=None,
        right_start="p_start", right_end="p_end",
        partition_keys=[("c_user", "p_user")],
        bin_size=3600, how="full",
    )
    return joined.select("purchase_id", "c_user", "c_ts")


@q("j10d_region_batch", """
WITH r AS (SELECT event_id AS region_id, user_id AS r_user,
                  CAST(floor(epoch(ts)) AS BIGINT) - 3600 AS r_start,
                  CAST(floor(epoch(ts)) AS BIGINT) + 3600 AS r_end
           FROM events WHERE event_type = 'purchase' AND event_id % 3 = 0),
     c AS (SELECT user_id AS c_user, CAST(floor(epoch(ts)) AS BIGINT) AS c_ts
           FROM events WHERE event_type = 'click')
SELECT r.region_id, count(*) AS n_hits
FROM r JOIN c ON c.c_user = r.r_user AND c.c_ts BETWEEN r.r_start AND r.r_end
GROUP BY r.region_id
""")
def j10d_region_batch(spark, sf):
    # Multi-region BATCH search (r7 verdict #3): a TABLE of regions —
    # the reference's pyranges form of Junctions.search(gr) /
    # Variants.search_region(gr) (junction.py:74-112, variants.py:82-109)
    # — probed in one binned point-in-interval join, output keyed by
    # region_id. Same machinery the assay batch APIs route through
    # (assays/junctions.py search_regions, assays/variants.py
    # search_region); here proven over the star schema: a sparse panel
    # of purchase-centered windows against all clicks. Scales as an
    # equi-join on (user, bin): a million-region panel never becomes a
    # BroadcastNestedLoop.
    ev = _t(spark, sf, "events")
    regions = ev.filter(
        (F.col("event_type") == "purchase") & (F.pmod("event_id", F.lit(3)) == 0)
    ).select(
        F.col("event_id").alias("region_id"),
        F.col("user_id").alias("r_user"),
        (epoch_seconds("ts") - 3600).alias("r_start"),
        (epoch_seconds("ts") + 3600).alias("r_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), epoch_seconds("ts").alias("c_ts")
    )
    joined = binned_interval_join(
        clicks, regions,
        left_start="c_ts", left_end=None,
        right_start="r_start", right_end="r_end",
        partition_keys=[("c_user", "r_user")],
        bin_size=3600,
    )
    return joined.groupBy("region_id").agg(F.count("*").alias("n_hits"))


@q("j12_band_pairs", """
SELECT a.o_custkey, a.o_orderkey AS a_key, b.o_orderkey AS b_key
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
 AND abs(CAST(floor(epoch(a.o_orderdate)) AS BIGINT)
         - CAST(floor(epoch(b.o_orderdate)) AS BIGINT)) <= 30 * 86400
""")
def j12_band_pairs(spark, sf):
    # J12: tolerance band join (junction.py:285-287) via the SKEW-SAFE
    # banded pair join: the equi key is (custkey, value bin), so a hot
    # customer can't go quadratic — fan-out is bounded per time bin.
    # o_orderdate is TIMESTAMP_NTZ in the parquet; epoch seconds need a
    # two-step cast (NTZ->TZ is identity under the UTC session).
    from clinpy_spark.functions.intervals import banded_pair_join

    o = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("timestamp").cast("long").alias("od"),
    )
    # hot_threshold=None: orders-per-customer is generator-bounded
    # (TPC-H caps it at ~40 regardless of SF), so the caller asserts
    # bounded fan-out and skips the per-build hot-key probe scan — the
    # plain one-shuffle self-join with zero build-time actions. The
    # skew-capped route stays property-tested via hot_threshold=0.
    pairs = banded_pair_join(o, key_cols=["o_custkey"], value_col="od",
                             id_col="o_orderkey", tol=30 * 86400,
                             hot_threshold=None)
    return pairs.select("o_custkey", F.col("a_id").alias("a_key"),
                        F.col("b_id").alias("b_key"))


@q("j17_fuzzy_pairs", """
WITH names AS (SELECT p_partkey, p_name FROM part)
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edits
FROM names a JOIN names b ON a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
""")
def j17_fuzzy_pairs(spark, sf):
    # Edit-distance fuzzy self-join (operators/fuzzy.py): lossless
    # length-band blocking (|len diff| <= lev) turns the quadratic
    # levenshtein sweep into an equi-join on length bins; the oracle IS
    # the unblocked all-pairs filter, proving the blocking drops
    # nothing. Entity-resolution / catalog-dedup shape.
    from clinpy_spark.operators.fuzzy import fuzzy_pairs

    part = _t(spark, sf, "part").select("p_partkey", "p_name")
    return fuzzy_pairs(part, "p_partkey", "p_name", max_edits=2) \
        .select(F.col("a_id").alias("a_key"), F.col("b_id").alias("b_key"),
                F.col("edits").cast("int").alias("edits"))


@q("j18_fuzzy_join", """
WITH l AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 2 = 0),
     r AS (SELECT p_partkey, p_name FROM part WHERE p_partkey % 2 = 1)
SELECT l.p_partkey AS l_key, r.p_partkey AS r_key,
       CAST(levenshtein(l.p_name, r.p_name) AS INT) AS edits
FROM l JOIN r ON levenshtein(l.p_name, r.p_name) <= 2
""")
def j18_fuzzy_join(spark, sf):
    # TWO-TABLE edit-distance fuzzy join (operators/fuzzy.py fuzzy_join
    # — the variant the r6 verdict flagged as unsalted; now carrying the
    # same (length-bin, salt) key as fuzzy_pairs). Disjoint halves of
    # part stand in for two catalogs being reconciled; the oracle is the
    # unblocked all-pairs filter, proving the banding drops nothing.
    from clinpy_spark.operators.fuzzy import fuzzy_join

    part = _t(spark, sf, "part").select("p_partkey", "p_name")
    left = part.filter(F.col("p_partkey") % 2 == 0)
    right = part.filter(F.col("p_partkey") % 2 == 1)
    return fuzzy_join(left, right, "p_name", "p_name", max_edits=2).select(
        F.col("p_partkey_l").alias("l_key"),
        F.col("p_partkey_r").alias("r_key"),
        F.col("edits").cast("int").alias("edits"),
    )


@q("j19_scd2_lookup", """
WITH dim AS (
  SELECT o_custkey AS k, o_orderpriority AS attr,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ef,
         coalesce(lead(CAST(floor(epoch(o_orderdate)) AS BIGINT)) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                  9223372036854775807) AS et
  FROM orders),
facts AS (
  SELECT o_custkey AS k, CAST(floor(epoch(l_shipdate)) AS BIGINT) AS ts
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
SELECT attr AS prio_at_ship, CAST(count(*) AS BIGINT) AS n
FROM facts JOIN dim USING (k)
WHERE ef <= ts AND ts < et
GROUP BY attr
""")
def j19_scd2_lookup(spark, sf):
    # Point-in-time dimension resolution (operators/merge.py
    # scd2_lookup): the customer's order-priority "version" valid at
    # each line shipment. Versions per key partition the timeline, so
    # the plan is an equi-join on the key + range filter — fan-out
    # bounded by versions-per-key, no binning (a versioned dimension
    # can't have interval skew). Window builds the version table with
    # lead(); exclusive upper bound makes the match unique.
    from pyspark.sql import Window

    from clinpy_spark.operators.merge import scd2_lookup

    o = _t(spark, sf, "orders")
    oe = epoch_seconds("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderpriority").alias("attr"),
        oe.alias("effective_from"),
        F.lead(oe).over(w).alias("effective_to"),
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", epoch_seconds("l_shipdate").alias("ts"))
    facts = li.join(o.select("o_orderkey", F.col("o_custkey").alias("k")),
                    li.l_orderkey == F.col("o_orderkey")).select("k", "ts")
    return (
        scd2_lookup(facts, dim, ["k"], "ts")
        .groupBy(F.col("attr").alias("prio_at_ship"))
        .agg(F.count("*").alias("n"))
    )


@q("j13_overlap_fraction", """
SELECT a.o_custkey, a.o_orderkey AS a_key, b.o_orderkey AS b_key,
       round(greatest(least(CAST(floor(epoch(a.o_orderdate)) AS BIGINT) + 2592000,
                            CAST(floor(epoch(b.o_orderdate)) AS BIGINT) + 2592000)
                      - greatest(CAST(floor(epoch(a.o_orderdate)) AS BIGINT),
                                 CAST(floor(epoch(b.o_orderdate)) AS BIGINT)), 0)
             / 2592000.0, 4) AS ovl_frac
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
WHERE greatest(least(CAST(floor(epoch(a.o_orderdate)) AS BIGINT) + 2592000,
                     CAST(floor(epoch(b.o_orderdate)) AS BIGINT) + 2592000)
               - greatest(CAST(floor(epoch(a.o_orderdate)) AS BIGINT),
                          CAST(floor(epoch(b.o_orderdate)) AS BIGINT)), 0)
      / 2592000.0 >= 0.5
""")
def j13_overlap_fraction(spark, sf):
    # J13: overlap-fraction join with reciprocal threshold
    # (junction.py:294-321 + utils.py:7-25) as a pure column expression —
    # the reference's driver-side Python loop, distributed. Per-key
    # self-join: the cheapest plan while per-key cardinality is bounded
    # (TPC-H customers hold tens of orders at any SF). For skewed keys,
    # equal-length intervals make "reciprocal overlap >= f" identical to
    # "|a_s - b_s| <= (1-f)*len", i.e. banded_pair_join's capped route
    # (intervals.py) — the hot-key fallback j12 demonstrates.
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    o = _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        epoch.alias("s"),
        (epoch + 2_592_000).alias("e"),
    )
    a = o.toDF("o_custkey", "a_key", "a_s", "a_e")
    b = o.toDF("o_custkey", "b_key", "b_s", "b_e")
    frac_ab = overlap_fraction("a_s", "a_e", "b_s", "b_e")
    frac_ba = overlap_fraction("b_s", "b_e", "a_s", "a_e")
    return (
        a.join(b, "o_custkey")
        .filter(F.col("a_key") < F.col("b_key"))
        .filter((frac_ab >= 0.5) & (frac_ba >= 0.5))  # reciprocal (equal lengths -> same value)
        .select("o_custkey", "a_key", "b_key", F.round(frac_ab, 4).alias("ovl_frac"))
    )


@q("j14_point_in_interval", """
SELECT label, event_type, count(*) AS n
FROM events
JOIN (VALUES (0, 5, 'night'), (6, 11, 'morning'),
             (12, 17, 'afternoon'), (18, 23, 'evening')) AS buckets(sh, eh, label)
  ON hour(ts) BETWEEN sh AND eh
GROUP BY label, event_type
""")
def j14_point_in_interval(spark, sf):
    # J14: point-in-interval classification (junction.py:229-263).
    # The point domain is discrete (hour 0-23), so discretize the interval
    # dim instead of range-joining the fact: explode each bucket to one row
    # per hour and the plan becomes a broadcast hash EQUI-join — no
    # BroadcastNestedLoopJoin, no per-row range comparisons. (For continuous
    # domains use functions.intervals.binned_interval_join.)
    buckets = spark.createDataFrame(
        [(0, 5, "night"), (6, 11, "morning"), (12, 17, "afternoon"), (18, 23, "evening")],
        "sh int, eh int, label string",
    ).select(F.explode(F.sequence("sh", "eh")).alias("__h"), "label")
    ev = _t(spark, sf, "events").withColumn("__h", F.hour("ts"))
    return (
        ev.join(F.broadcast(buckets), "__h")
        .groupBy("label", "event_type")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# A family — aggregations / distinct / set ops (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

@q("a1_group_count", """
SELECT c_mktsegment, count(*) AS n
FROM customer GROUP BY c_mktsegment
""")
def a1_group_count(spark, sf):
    # A1: cohort counts (project.py:60-66).
    return _t(spark, sf, "customer").groupBy("c_mktsegment").agg(F.count("*").alias("n"))


@q("a2_count_distinct", """
SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
FROM orders GROUP BY o_orderstatus
""")
def a2_count_distinct(spark, sf):
    # A2: distinct-entity counts (variants.py:112).
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n_cust"))
    )


@q("a4_distinct_dedup", """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""")
def a4_distinct_dedup(spark, sf):
    # A4: DISTINCT natural keys — the reference's core dedup op
    # (rna_functions.py:65-66).
    return _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@q("a6_pivot_wide", "\n".join([
    "SELECT n_name,",
    ",\n".join(
        f"  CAST(sum(CAST(rev AS DECIMAL(18,4))) FILTER (o_orderpriority = '{p}') AS DOUBLE) AS \"{p}\""
        for p in PRIORITIES
    ),
    """
FROM (
  SELECT n_name, o_orderpriority, l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
GROUP BY n_name
""",
]))
def a6_pivot_wide(spark, sf):
    # A6: long->wide pivot (expression.py:53-60) with pinned pivot values
    # (deterministic columns; raise spark.sql.pivotMaxValues for >10k).
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    long = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_orderpriority", (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
    )
    return long.groupBy("n_name").pivot("o_orderpriority", PRIORITIES).agg(
        F.sum(F.col("rev").cast("decimal(18,4)")).cast("double")
    )


@q("a7_ratio_agg", """
SELECT l_returnflag,
       count(*) FILTER (l_quantity > 25) AS n_high,
       count(*) AS n,
       round(count(*) FILTER (l_quantity > 25) * 1.0 / count(*), 4) AS high_frac
FROM lineitem GROUP BY l_returnflag
""")
def a7_ratio_agg(spark, sf):
    # A7: the allele-count/frequency aggregate the reference left as a
    # stub (variants.py:136-143), as conditional aggregation.
    n_high = F.count(F.when(F.col("l_quantity") > 25, 1))
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            n_high.alias("n_high"),
            F.count("*").alias("n"),
            F.round(n_high * 1.0 / F.count("*"), 4).alias("high_frac"),
        )
    )


@q("a9_explode_words", """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
""")
def a9_explode_words(spark, sf):
    # A9: explode (snp_functions.py:127).
    return (
        _t(spark, sf, "part")
        .select(F.explode(F.split("p_name", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@q("a10_json_flatten", """
SELECT event_type,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type
""")
def a10_json_flatten(spark, sf):
    # A10: JSON/struct flatten (snp_functions.py:128-130; user_annot JSON).
    return (
        _t(spark, sf, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
    )


@q("a11_union_tagged", """
SELECT c_name AS name, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS kind FROM supplier
""")
def a11_union_tagged(spark, sf):
    # A11: unionByName (junction.py:367).
    c = _t(spark, sf, "customer").select(F.col("c_name").alias("name"), F.lit("customer").alias("kind"))
    s = _t(spark, sf, "supplier").select(F.col("s_name").alias("name"), F.lit("supplier").alias("kind"))
    return c.unionByName(s)


@q("a12_hash_id", """
SELECT count(DISTINCT l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR) AS n_ids
FROM lineitem
""")
def a12_hash_id(spark, sf):
    # A12: deterministic surrogate ids — the engine's replacement for
    # autoincrement (rna_tables.py:8). Check: hash ids are as distinct as
    # the natural keys they derive from.
    return _t(spark, sf, "lineitem").agg(
        F.countDistinct(hash_id("l_orderkey", "l_linenumber")).alias("n_ids")
    )


@q("a8_rollup", f"""
SELECT l_returnflag, l_linestatus,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def a8_rollup(spark, sf):
    # Beyond-reference: hierarchical subtotals (rollup) — grand total and
    # per-returnflag rows appear with NULL group keys in both engines.
    return (
        _t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@q("a11b_intersect", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""")
def a11b_intersect(spark, sf):
    # Set op: INTERSECT (distinct semantics) — the data-level analogue of
    # the reference's header-set intersection (snp_functions.py:36-43).
    building = (
        _t(spark, sf, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey"))
    )
    urgent = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.intersect(urgent)


@q("a11c_except", """
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""")
def a11c_except(spark, sf):
    # Set op: EXCEPT (distinct anti semantics) — customers who ordered
    # but never urgently.
    orders = _t(spark, sf, "orders")
    return orders.select("o_custkey").subtract(
        orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    )


@q("e_time_rollup", """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, hour(ts) AS hr,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (CAST(date_trunc('day', ts) AS TIMESTAMP), hour(ts))
""")
def e_time_rollup(spark, sf):
    # Hypertable-style continuous aggregate: ONE pass produces the hourly
    # level, the daily rollup, and the grand total (time hierarchy via
    # ROLLUP — Spark's Expand feeds a single hash aggregate, no re-scan
    # per granularity).
    ev = _t(spark, sf, "events")
    return (
        ev.select(F.date_trunc("day", "ts").alias("day"), F.hour("ts").alias("hr"), "value")
        .rollup("day", "hr")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


@q("o6_approx_quantiles", """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS exact_median,
       TRUE AS approx_within_1pct
FROM lineitem GROUP BY l_returnflag
""")
def o6_approx_quantiles(spark, sf):
    # Sketch quantiles (Greenwald-Khanna percentile_approx) with the same
    # accuracy-contract oracle trick as the HLL query: return the exact
    # median plus a boolean "approx within 1% relative error" the oracle
    # asserts TRUE. At scale the sketch is the mergeable fixed-memory
    # replacement for exact sorting.
    exact = F.percentile("l_extendedprice", F.lit(0.5))
    approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10_000))
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            exact.alias("exact_median"),
            (F.abs(approx - exact) <= 0.01 * exact).alias("approx_within_1pct"),
        )
    )


@q("s13_stratified_sample", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_total, TRUE AS sampled_within_bounds
FROM orders GROUP BY o_orderpriority
""")
def s13_stratified_sample(spark, sf):
    # Stratified sampling (training-data curation staple): sampleBy keeps
    # a per-stratum fraction without a shuffle (per-row Bernoulli against
    # the broadcast fraction map). Randomness can't hash-match an oracle,
    # so the query returns the full per-stratum counts plus a boolean
    # asserting the sampled count is within +-30% of fraction*n (seeded,
    # deterministic) — the oracle asserts TRUE.
    orders = _t(spark, sf, "orders")
    fractions = {p: 0.2 for p in PRIORITIES}
    sampled = orders.sampleBy("o_orderpriority", fractions, seed=7)
    s_counts = sampled.groupBy("o_orderpriority").agg(F.count("*").alias("n_sampled"))
    return (
        orders.groupBy("o_orderpriority").agg(F.count("*").alias("n_total"))
        .join(s_counts, "o_orderpriority")
        .select(
            "o_orderpriority", "n_total",
            (F.abs(F.col("n_sampled") - 0.2 * F.col("n_total"))
             <= 0.3 * 0.2 * F.col("n_total")).alias("sampled_within_bounds"),
        )
    )


@q("s14_profile", """
SELECT 'o_totalprice' AS col, CAST(count(*) AS BIGINT) AS n,
       CAST(count(o_totalprice) AS BIGINT) AS n_nonnull,
       min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT), CAST(count(o_custkey) AS BIGINT),
       CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
FROM orders
""")
def s14_profile(spark, sf):
    # Data profiling: per-column row/null/min/max in ONE scan — aggregate
    # every column's stats in a single pass, then unpivot the stat row to
    # per-column rows (no per-column re-scan).
    orders = _t(spark, sf, "orders")
    cols = ["o_totalprice", "o_custkey"]
    one = orders.agg(
        F.count("*").alias("n"),
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    )
    stacked = one.selectExpr(
        "n",
        "stack(2, " + ", ".join(
            f"'{c}', nn_{c}, mn_{c}, mx_{c}" for c in cols
        ) + ") AS (col, n_nonnull, min_v, max_v)",
    )
    return stacked.select("col", "n", "n_nonnull", "min_v", "max_v")


@q("s12_merge_upsert", f"""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT * FROM orders o WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = o.o_orderkey)
  UNION ALL
  SELECT * FROM src
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {DSUM('o_totalprice', 3)} AS total
FROM merged GROUP BY o_orderstatus
""")
def s12_merge_upsert_q(spark, sf):
    # MERGE INTO emulation on plain parquet (S11 generalized): source rows
    # replace key-matched target rows, inserts append, the rest survive —
    # anti-join + unionByName, one shuffle on the key. Oracle = the
    # NOT EXISTS + UNION ALL formulation.
    from clinpy_spark.operators.merge import merge_upsert

    orders = _t(spark, sf, "orders")
    src = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    merged = merge_upsert(orders, src, keys=["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice"), 3).alias("total"),
    )


@q("s18_scd2_apply", """
WITH dim AS (
  SELECT c_custkey AS k, c_mktsegment AS attr, CAST(0 AS BIGINT) AS effective_from,
         CAST(NULL AS BIGINT) AS effective_to, true AS is_current
  FROM customer
),
upd AS (
  SELECT o_custkey AS k, max(o_orderpriority) AS attr,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS effective_from
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  GROUP BY o_custkey, o_orderdate
),
firsts AS (SELECT k, min(effective_from) AS nf FROM upd GROUP BY k),
closed AS (
  SELECT d.k, d.attr, d.effective_from,
         CASE WHEN d.is_current AND f.nf IS NOT NULL THEN f.nf
              ELSE d.effective_to END AS effective_to,
         CASE WHEN f.nf IS NOT NULL THEN false ELSE d.is_current END AS is_current
  FROM dim d LEFT JOIN firsts f ON d.k = f.k
),
opened AS (
  SELECT k, attr, effective_from,
         lead(effective_from) OVER (PARTITION BY k ORDER BY effective_from)
           AS effective_to,
         lead(effective_from) OVER (PARTITION BY k ORDER BY effective_from) IS NULL
           AS is_current
  FROM upd
)
SELECT * FROM closed UNION ALL SELECT * FROM opened
""")
def s18_scd2_apply_q(spark, sf):
    # SCD2 batch apply, ORACLE-CHECKED (previously pytest-only): current
    # versions close at the key's earliest update, a multi-update batch
    # chains per key via a lead window (exactly one is_current row), and
    # untouched keys pass through. Updates dedup on (k, ts) first so the
    # chain order is engine-deterministic. Oracle = the window/union
    # formulation.
    from clinpy_spark.operators.merge import scd2_apply

    dim = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("attr"),
        F.lit(0).cast("long").alias("effective_from"),
        F.lit(None).cast("long").alias("effective_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderdate") >= "1998-01-01")
        .groupBy(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").cast("timestamp").cast("long").alias("effective_from"),
        )
        .agg(F.max("o_orderpriority").alias("attr"))
        .select("k", "attr", "effective_from")
    )
    return scd2_apply(dim, updates, keys=["k"])


@q("a15_hll_sketch", """
SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_nd,
       TRUE AS within_5pct
FROM orders GROUP BY o_orderpriority
""")
def a15_hll_sketch(spark, sf):
    # Sketch family: Datasketches HLL per group. An estimate can't
    # hash-match an oracle, so the query CHECKS THE ACCURACY CONTRACT
    # instead: it returns the exact distinct count plus a boolean
    # "estimate within 5%", and the oracle asserts TRUE — a wrong sketch
    # fails the gate. (At 100 TB the sketch replaces the exact count:
    # fixed-size state, mergeable across partitions — merge law tested in
    # tests/test_operators.py.)
    est = F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey"))
    exact = F.countDistinct("o_custkey")
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            exact.alias("exact_nd"),
            (F.abs(est - exact) <= 0.05 * exact).alias("within_5pct"),
        )
    )


@q("a8c_cube", """
SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def a8c_cube(spark, sf):
    # Full grouping-set lattice (cube): all four (status, priority)
    # grouping combinations in one pass — Spark expands to an Expand node
    # feeding ONE hash aggregate, not four scans.
    return (
        _t(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@q("o4_exact_percentiles", """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS median_qty,
       quantile_cont(l_quantity, 0.9) AS p90_qty
FROM lineitem GROUP BY l_returnflag
""")
def o4_exact_percentiles(spark, sf):
    # Ordered-set aggregate: exact interpolated percentiles (Spark
    # percentile == SQL quantile_cont semantics). For 100 TB dashboards
    # swap in approx_percentile; the exact form is the oracle-checkable
    # contract.
    return (
        _t(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
            F.percentile("l_quantity", F.lit(0.9)).alias("p90_qty"),
        )
    )


@q("a6b_unpivot", """
SELECT o_orderkey, metric, val
FROM (
  SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS custkey_num
  FROM orders WHERE o_orderkey < 500
)
UNPIVOT (val FOR metric IN (o_totalprice, custkey_num))
""")
def a6b_unpivot(spark, sf):
    # A6 inverse: wide->long melt.
    base = (
        _t(spark, sf, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select("o_orderkey", "o_totalprice", F.col("o_custkey").cast("double").alias("custkey_num"))
    )
    return base.unpivot("o_orderkey", ["o_totalprice", "custkey_num"], "metric", "val")


@q("o3_lag_gaps", """
SELECT o_custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT)
       - CAST(floor(epoch(lag(o_orderdate) OVER w)) AS BIGINT) AS gap_s
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def o3_lag_gaps(spark, sf):
    # Window lag: seconds since the customer's previous order.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    epoch = F.col("o_orderdate").cast("timestamp").cast("long")
    prev = F.lag(F.col("o_orderdate")).over(w).cast("timestamp").cast("long")
    return _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey", (epoch - prev).alias("gap_s")
    )


# ---------------------------------------------------------------------------
# TPC-H classics — headline bench queries
# ---------------------------------------------------------------------------

@q("tpch_q1_pricing", f"""
SELECT l_returnflag, l_linestatus,
       {DSUM('l_quantity', 2)} AS sum_qty,
       {DSUM('l_extendedprice', 2)} AS sum_base_price,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_pricing(spark, sf):
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@q("tpch_q3_shipping", f"""
SELECT l_orderkey, o_orderdate,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l_orderkey, o_orderdate
""")
def tpch_q3_shipping(spark, sf):
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < "1997-01-01")
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1997-01-01")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q("tpch_q5_local_supplier", f"""
SELECT n_name, {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
""")
def tpch_q5_local_supplier(spark, sf):
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q("tpch_q6_forecast", f"""
SELECT {DSUM('l_extendedprice * l_discount')} AS revenue, count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6_forecast(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.03, 0.07) & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@q("tpch_q4_order_priority", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
""")
def tpch_q4_order_priority(spark, sf):
    # Q4 shape: correlated EXISTS -> left_semi join. The semi join keeps
    # orders single-copy (no fanout-then-distinct), shuffling on orderkey.
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@q("tpch_q13_cust_distribution", """
SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey
)
GROUP BY n_orders
""")
def tpch_q13_cust_distribution(spark, sf):
    # Q13 shape: left outer join preserving empty groups, two-level agg.
    # count(col) skips the nulls the outer join introduces, so order-less
    # customers land in the n_orders=0 bucket.
    cust = _t(spark, sf, "customer").select("c_custkey")
    orders = _t(spark, sf, "orders").select("o_custkey", "o_orderkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
    )


@q("tpch_q16_unordered_parts", """
SELECT p_brand, p_type, CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts
FROM part
WHERE p_size IN (5, 10, 15)
  AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)
GROUP BY p_brand, p_type
""")
def tpch_q16_unordered_parts(spark, sf):
    # Q16 shape: NOT EXISTS -> left_anti join (the J6 incremental-append
    # primitive in a reporting query).
    part = _t(spark, sf, "part").filter(F.col("p_size").isin(5, 10, 15))
    heavy = _t(spark, sf, "lineitem").filter(F.col("l_quantity") > 45).select("l_partkey")
    return (
        part.join(heavy, part.p_partkey == heavy.l_partkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("p_partkey").alias("n_parts"))
    )


@q("tpch_q18_large_orders", f"""
SELECT o_orderkey, o_orderdate, o_totalprice, {DSUM('l_quantity', 2)} AS total_qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 300
""")
def tpch_q18_large_orders(spark, sf):
    # Q18 shape: aggregate + HAVING over the agg. One shuffle on the
    # group key; the filter runs post-aggregation (Catalyst keeps the
    # partial agg map-side).
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )


@q("tpch_q12_shipmode", """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""")
def tpch_q12_shipmode(spark, sf):
    # Q12 shape: conditional aggregation (pivot-style CASE counts inside
    # one pass — no second scan per category).
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = _t(spark, sf, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q("tpch_q10_returned_items", f"""
SELECT * FROM (
  SELECT c_custkey, c_name, n_name,
         {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM customer
  JOIN nation ON n_nationkey = c_nationkey
  JOIN orders ON o_custkey = c_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
  GROUP BY c_custkey, c_name, n_name
) ORDER BY revenue DESC, c_custkey LIMIT 20
""")
def tpch_q10_returned_items(spark, sf):
    # Q10 shape: 4-table star join + top-N by aggregate. The returnflag
    # filter lands on the lineitem scan (pushed); nation broadcasts;
    # TakeOrderedAndProject avoids a global sort.
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@q("o5_window_frames", """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing3,
       first_value(o_orderkey) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_order
FROM orders
WHERE o_custkey < 500
""")
def o5_window_frames(spark, sf):
    # Explicit rows-frame windows: trailing-3 sum + first_value. One
    # shuffle on the partition key serves both frames.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf, "orders")
        .filter(F.col("o_custkey") < 500)
        .select(
            "o_custkey", "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .over(w.rowsBetween(-2, 0)).cast("double").alias("trailing3"),
            F.first("o_orderkey").over(w).alias("first_order"),
        )
    )


@q("o7_ntile_ranks", """
SELECT c_custkey, c_mktsegment,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
""")
def o7_ntile_ranks(spark, sf):
    # Distribution ranks: ntile / percent_rank / cume_dist share one
    # window (single shuffle + sort). The order key is made total with
    # the pk so ranks are deterministic; percent_rank/cume_dist are
    # exact int-ratio divisions — identical doubles in both engines.
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# O/W family — sorts, top-k, running windows
# ---------------------------------------------------------------------------

@q("o1_topk_per_group", """
SELECT c_mktsegment, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rk <= 3
""")
def o1_topk_per_group(spark, sf):
    # O1 extension: deterministic top-k per group (window + row_number).
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )


@q("o2_running_total", """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey), 2) AS running_spend
FROM orders
""")
def o2_running_total(spark, sf):
    # Running cumulative aggregate per entity.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return _t(spark, sf, "orders").select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# E family — event-time ops on the events table (SURVEY.md §2.7 extension)
# ---------------------------------------------------------------------------

@q("e_tumbling_hour", """
SELECT date_trunc('hour', ts) AS ws, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY ws, event_type
""")
def e_tumbling_hour(spark, sf):
    # Tumbling event-time window (batch form; streaming twin in
    # clinpy_spark.streaming.events).
    return tumbling_counts(_t(spark, sf, "events"), "ts", "1 hour", keys=["event_type"])


@q("e_funnel_steps", """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
SELECT 1 AS step, 'view' AS step_name, (SELECT count(*) FROM s1) AS n_users
UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
""")
def e_funnel_steps_q(spark, sf):
    # Ordered funnel view -> click -> purchase (operators/funnel.py):
    # step i's time is the earliest step-i event strictly after the
    # user's step i-1 time; counts are monotone by construction. One
    # filtered aggregation per step, co-partitioned on user_id.
    from clinpy_spark.operators.funnel import funnel_counts

    return funnel_counts(_t(spark, sf, "events"), ["view", "click", "purchase"])


@q("e_retention_cohorts", """
WITH d AS (SELECT user_id,
                  CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800) AS BIGINT) AS p
           FROM events),
f AS (SELECT user_id, min(p) AS cohort FROM d GROUP BY 1)
SELECT cohort AS cohort_period, p - cohort AS period_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
FROM d JOIN f USING (user_id) GROUP BY 1, 2
""")
def e_retention_cohorts_q(spark, sf):
    # Weekly retention grid (operators/funnel.py): cohort = fixed
    # 7-day period of the user's first event, n_active = distinct
    # users per (cohort, offset). Two shuffles total; epoch-day
    # periods avoid calendar-week cross-engine drift.
    from clinpy_spark.operators.funnel import retention_cohorts

    return retention_cohorts(_t(spark, sf, "events"), period_days=7)


@q("e_robust_outliers", """
WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m FROM events GROUP BY 1),
dev AS (SELECT e.event_type, abs(value - m) AS ad, m FROM events e JOIN med USING (event_type)),
mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS md FROM dev GROUP BY 1)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN (CASE WHEN md > 0 THEN ad > 3 * 1.4826 * md
                                ELSE ad > 0 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(min(m), 6) AS med, round(min(md), 6) AS mad
FROM dev JOIN mad USING (event_type) GROUP BY event_type
""")
def e_robust_outliers_q(spark, sf):
    # Per-type robust outlier gate (operators/funnel.py): MAD with the
    # 1.4826 normal-consistency factor, exact interpolated medians (one
    # shuffle on the tiny group key, stats broadcast back).
    from clinpy_spark.operators.funnel import robust_outliers

    out = robust_outliers(_t(spark, sf, "events"), n_mads=3.0)
    return out.select(
        "event_type", "n_rows", "n_outliers",
        F.round("med", 6).alias("med"), F.round("mad", 6).alias("mad"))


@q("e_sessionize", """
SELECT user_id, CAST(count(*) FILTER (new_sess = 1) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
GROUP BY user_id
""")
def e_sessionize(spark, sf):
    # Sessionization: gap > 30 min starts a new session.
    s = sessionize(_t(spark, sf, "events"), "ts", "user_id", gap_seconds=1800)
    return s.groupBy("user_id").agg((F.max("session_id") + 1).cast("long").alias("n_sessions"))


@q("e_sessionize_bucketed", """
SELECT user_id, CAST(count(*) FILTER (new_sess = 1) AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
GROUP BY user_id
""")
def e_sessionize_bucketed(spark, sf):
    # Whale-safe two-phase sessionize (operators/windows.py): window
    # partitions bounded by (user, day bucket), boundary merge on
    # per-bucket summaries. Oracle is the PLAIN per-user sessionization
    # — the two-phase rewrite is semantically transparent, proven by
    # the hash match (the skew-safety twin of skew_salted_join's
    # transparency oracle).
    from clinpy_spark.operators.windows import sessionize_bucketed

    s = sessionize_bucketed(_t(spark, sf, "events"), "ts", "user_id",
                            gap_seconds=1800, bucket_seconds=86_400)
    return s.groupBy("user_id").agg(
        (F.max("session_id") + 1).cast("long").alias("n_sessions"))


@q("e_sliding_window", """
SELECT ws, event_type, count(*) AS n
FROM (
  SELECT event_type,
         unnest([date_trunc('hour', ts)
                   + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END,
                 date_trunc('hour', ts)
                   + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                   - INTERVAL 30 MINUTE]) AS ws
  FROM events
)
GROUP BY ws, event_type
""")
def e_sliding_window(spark, sf):
    # Sliding window (1h window, 30min slide): each event lands in two
    # windows. The oracle replicates window assignment by unnesting the
    # two aligned window starts.
    from clinpy_spark.operators.windows import sliding_counts

    return sliding_counts(_t(spark, sf, "events"), "ts", "1 hour", "30 minutes",
                          keys=["event_type"])


@q("j15_asof_join", """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, max(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts,
       v.view_value, v.ts AS ts_right
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
""")
def j15_asof_join(spark, sf):
    # As-of join (operator Spark lacks): for each click, the user's most
    # recent view at-or-before it. One shuffle on user_id (tagged union +
    # window), oracle = DuckDB's native ASOF LEFT JOIN. The right side is
    # pre-aggregated to unique (user_id, ts) so ties are deterministic.
    from clinpy_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    return asof_join(clicks, views, key="user_id", left_time="ts")


@q("text_tokens_bpe", r"""
SELECT lang,
       CAST(sum(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS total_tokens,
       count(*) AS n_docs
FROM documents GROUP BY lang
""")
def text_tokens_bpe(spark, sf):
    # BPE-ish regex tokenization (words + standalone punctuation) —
    # the token-counting flavor an LLM-data pipeline actually uses.
    n_tok = F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
    return (
        _t(spark, sf, "documents")
        .groupBy("lang")
        .agg(F.sum(n_tok).alias("total_tokens"), F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (SURVEY.md §2.8): dedup / similarity /
# text analysis / multimodal
# ---------------------------------------------------------------------------

@q("dedup_exact_stats", f"""
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS n_unique
FROM documents GROUP BY source
""")
def dedup_exact_stats_q(spark, sf):
    # Exact dedup by normalized-text fingerprint (hash-groupBy).
    return exact_dedup_stats(_t(spark, sf, "documents"), "text", "source")


# DuckDB twin of portable_token_hash20: value of the first 5 md5 hex
# digits of the token (big-endian digit weights 16^4..16^0).
_TOK20_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(t), {k + 1}, 1)) - 1) * {16 ** (4 - k)}"
    for k in range(5)
)


@q("text_rolling_fp", f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           [CAST({_TOK20_SQL} AS BIGINT)
            FOR t IN string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')]),
         (acc, h) -> (acc * 1000003 + h) % 2147483647) AS fp
FROM documents WHERE doc_id < 100
""")
def text_rolling_fp_q(spark, sf):
    # Order-sensitive rolling (polynomial) fingerprint, ORACLE-CHECKED:
    # the per-token hash runs in portable (md5-derived) mode so DuckDB
    # recomputes the identical value with list_reduce over the same
    # recurrence; the rolling arithmetic under test is the production
    # path. The xxhash64 fast path's incremental-extension identity is
    # pinned by tests/test_functions.py::test_rolling_fingerprint.
    from clinpy_spark.functions.text import rolling_fingerprint

    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", rolling_fingerprint("text", portable=True).alias("fp"))
    )


@q("text_fingerprint", """
SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
FROM documents WHERE doc_id < 100
""")
def text_fingerprint_q(spark, sf):
    # Document fingerprinting — engine-portable md5 over normalized text.
    return (
        _t(spark, sf, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", fingerprint("text").alias("fp"))
    )


@q("text_stats", """
SELECT lang,
       count(*) AS n_docs,
       round(avg(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split_regex(trim(text), '\\s+')) END), 2) AS avg_tokens,
       round(avg(n_chars), 2) AS avg_chars
FROM documents GROUP BY lang
""")
def text_stats_q(spark, sf):
    # Token counting + corpus stats.
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg(token_count("text")), 2).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@q("text_quality", f"""
SELECT source,
       count(*) FILTER (
         (length(text) - length(regexp_replace(text, '{_PUNCT_RE_SQL}', '', 'g')))
           * 1.0 / greatest(length(text), 1) < 0.05
         AND (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END) >= 10
         AND (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))
           * 1.0 / greatest(length(text), 1) < 0.3
       ) AS n_quality,
       count(*) AS n_docs
FROM documents GROUP BY source
""")
def text_quality_q(spark, sf):
    # Quality scoring: cheap length/punctuation/case filters.
    d = _t(spark, sf, "documents")
    is_q = (punct_ratio("text") < 0.05) & (token_count("text") >= 10) & (upper_ratio("text") < 0.3)
    return d.groupBy("source").agg(
        F.count(F.when(is_q, 1)).alias("n_quality"),
        F.count("*").alias("n_docs"),
    )


def _langid_oracle() -> str:
    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        return (
            f"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            f"x -> list_contains([{words}], x)))"
        )

    s = {lang: score(lang) for lang in LANG_STOPWORDS}
    return f"""
SELECT predicted, count(*) AS n
FROM (
  SELECT CASE
    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
    WHEN s_es >= s_fr THEN 'es'
    ELSE 'fr' END AS predicted
  FROM (
    SELECT {s['de']} AS s_de, {s['en']} AS s_en,
           {s['es']} AS s_es, {s['fr']} AS s_fr
    FROM documents
  )
)
GROUP BY predicted
"""


@q("text_langid", _langid_oracle())
def text_langid_q(spark, sf):
    # Stopword-hit language-ID heuristic (argmax, first-win ties).
    # Physical shape for scale: explode tokens once, broadcast-join the
    # tiny (lang, word) dim, conditional-count per language, argmax —
    # everything whole-stage codegen (the HOF-filter form of
    # functions.text.lang_id is interpreted and ~4x slower).
    from clinpy_spark.functions.text import tokens
    from clinpy_spark.session import ensure_min_parallelism

    d = ensure_min_parallelism(_t(spark, sf, "documents"))
    sw = spark.createDataFrame(
        [(lang, w) for lang, words in LANG_STOPWORDS.items() for w in words],
        "lang string, word string",
    )
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    scores = (
        toks.join(F.broadcast(sw), toks.tok == sw.word, "left")
        .groupBy("doc_id")
        .agg(*[
            F.count(F.when(F.col("lang") == lang, 1)).alias(f"s_{lang}")
            for lang in sorted(LANG_STOPWORDS)
        ])
    )
    langs = sorted(LANG_STOPWORDS)
    best_lang, best_score = F.lit(langs[0]), F.col(f"s_{langs[0]}")
    for lang in langs[1:]:
        take = F.col(f"s_{lang}") > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, F.col(f"s_{lang}")).otherwise(best_score)
    predicted = F.when(best_score > 0, best_lang).otherwise(F.lit("und"))
    return scores.select(predicted.alias("predicted")).groupBy("predicted").agg(
        F.count("*").alias("n")
    )


@q("dedup_cluster_components", """
WITH RECURSIVE
emb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.35
),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
r(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM r GROUP BY src
""")
def dedup_cluster_components_q(spark, sf):
    # The iterative component-labeling operator, ORACLE-CHECKED: pairs come
    # from an SQL-expressible emitter (brute-force cosine over a bounded
    # slice), so DuckDB can rebuild the same graph and label components
    # with a recursive CTE — exactness of the min-label propagation is
    # verified end-to-end, not just unit-tested.
    from clinpy_spark.operators.dedup import near_dup_clusters

    # limit(200) is a no-op on results (vec_ids are unique, so the
    # filter already yields <= 200 rows) but makes the slice's
    # boundedness PLAN-PROVABLE: the r14 barrier-capturing audit sees
    # the brute-force pair join under the pointer-jumping checkpoints,
    # and its strict shape gate accepts Limit-bounded sides only.
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 200).limit(200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity("va", "vb") >= 0.35)
        .select("id_a", "id_b")
    )
    return near_dup_clusters(pairs)


# Shared oracle CTE chain (no leading WITH — callers prepend WITH /
# WITH RECURSIVE): exact lang-blocked word-3-gram Jaccard pairs at
# threshold 0.3, the DuckDB twin of
# ngram_jaccard_pairs(threshold=0.3, block_col="lang"). Shingling rule
# (token windows of 3; a <=2-token doc is one whole-text shingle)
# mirrors functions/text.py::shingles.
_NGRAM_PAIRS_SQL = """
ntoks AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
shng AS (
  SELECT DISTINCT doc_id, lang, unnest(
    CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
         ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN generate_series(1, len(tk) - 2)]
    END) AS s
  FROM ntoks
),
shsizes AS (SELECT doc_id, count(*) AS sz FROM shng GROUP BY doc_id),
shinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM shng a JOIN shng b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jac
  FROM shinter JOIN shsizes sa ON sa.doc_id = shinter.id_a
               JOIN shsizes sb ON sb.doc_id = shinter.id_b
  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.3
)"""


_NGRAM_PAIRS_SQL_SAMPLED = _NGRAM_PAIRS_SQL.replace(
    "  FROM documents\n", "  FROM documents WHERE doc_id % 3 = 0\n", 1)


@q("dedup_keep_best", f"""
WITH RECURSIVE {_NGRAM_PAIRS_SQL_SAMPLED},
edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          UNION SELECT id_b, id_a FROM jpairs),
r(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM r GROUP BY src
),
ranked AS (
  SELECT c.doc_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk
  FROM comp c JOIN documents d USING (doc_id)
),
losers AS (SELECT doc_id FROM ranked WHERE rk > 1)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM documents
WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY source
""")
def dedup_keep_best_q(spark, sf):
    # Quality-aware keep-one (operators/dedup.py::keep_best_near_dedup):
    # same sampled n-gram pair graph and pointer-jumping components as
    # dedup_apply_clusters, but each cluster keeps its LONGEST document
    # (n_chars, ties to lowest id) — the canonical-copy selection a real
    # curation pipeline makes. The oracle labels components with a
    # recursive CTE and re-ranks by the same (n_chars, id) key; sum_ids
    # proves both engines kept the identical documents.
    # VERIFICATION-SHAPED (like dedup_apply_clusters, excluded from the
    # SCALING sweep): the lang-blocked exact-Jaccard emitter compares
    # all pairs within a language block so the oracle can rebuild the
    # graph — at scale the operator runs on a FINE blocking key
    # (minhash bands, simhash chunks), where keep_best's own cost is
    # linear in edges.
    from clinpy_spark.operators.dedup import keep_best_near_dedup

    d = _t(spark, sf, "documents").filter(F.pmod("doc_id", F.lit(3)) == 0)
    pairs = ngram_jaccard_pairs(d, threshold=0.3, block_col="lang")
    return keep_best_near_dedup(d, pairs, "n_chars").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"), F.sum("doc_id").alias("sum_ids")
    )


@q("dedup_apply_clusters", f"""
WITH RECURSIVE {_NGRAM_PAIRS_SQL_SAMPLED},
edges AS (SELECT id_a AS src, id_b AS dst FROM jpairs
          UNION SELECT id_b, id_a FROM jpairs),
r(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
),
losers AS (
  SELECT src AS doc_id FROM r GROUP BY src
  HAVING src != least(src, min(dst))
)
SELECT source, count(*) AS n_docs_kept
FROM documents
WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM losers)
GROUP BY source
""")
def dedup_apply_clusters_q(spark, sf):
    # End-to-end near-dedup action, ORACLE-CHECKED: SQL-expressible pair
    # emitter (exact n-gram Jaccard, the oracled dedup_ngram_jaccard
    # graph) -> connected components (iterative min-label propagation
    # with pointer jumping) -> keep one doc (the min id) per cluster.
    # DuckDB rebuilds the same graph and labels components with a
    # recursive CTE, so the clustering + keep decision is hash-checked
    # end-to-end. The minhash-emitter flavor of the same action stays
    # pinned by unit tests (test_near_dup_clusters_and_apply).
    # r7 verdict #8: the end-to-end verification runs on a DETERMINISTIC
    # 1/3 subset (doc_id % 3 = 0) — the pair-emitter/clustering/keep-one
    # contract is unchanged on the sampled set, the oracle samples
    # identically, and the pair-graph verify volume drops ~9x. The
    # FULL-corpus pair emitter stays oracled by dedup_ngram_jaccard and
    # the minhash flavor by test_near_dup_clusters_and_apply.
    from clinpy_spark.operators.dedup import apply_near_dedup

    d = _t(spark, sf, "documents").filter(F.pmod("doc_id", F.lit(3)) == 0)
    pairs = ngram_jaccard_pairs(d, threshold=0.3, block_col="lang")
    return apply_near_dedup(d, pairs).groupBy("source").agg(
        F.count("*").alias("n_docs_kept")
    )


@q("sim_topk_bruteforce", """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS mid, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT qid AS query_id, mid AS match_id, list_cosine_similarity(qv, cv) AS sim
  FROM q, c WHERE qid <> mid
),
r AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rk
  FROM s
)
SELECT query_id, match_id, round(sim, 4) AS cosine_sim FROM r WHERE rk <= 5
""")
def sim_topk_bruteforce_q(spark, sf):
    # Exact ANN baseline: brute-force cosine top-k, JVM-side arithmetic.
    emb = _t(spark, sf, "embeddings")
    # .limit() after the id filter is a row-wise no-op (ids are unique)
    # that encodes the probe bound IN THE PLAN: the shape-level audit
    # (tools/explain_audit.py) proves the nested-loop's broadcast side
    # constant-row from the GlobalLimit, and at 100 TB it is a real
    # safety cap on the probe batch.
    queries = emb.filter(F.col("vec_id") < 5).limit(5)
    return brute_force_topk(queries, emb, k=5)


# ---------------------------------------------------------------------------
# Round-3 additions: correlated/decorrelated subquery family (TPC-H
# q14/q17/q19/q21/q22 adapted to the slim star schema) + corpus
# decontamination, repetition profiling, and vector radius search.
# ---------------------------------------------------------------------------

@q("tpch_q14_promo", f"""
SELECT 100 * {DSUM('CASE WHEN p_type = %27PROMO%27 THEN l_extendedprice * (1 - l_discount) END')}
         / {DSUM('l_extendedprice * (1 - l_discount)')} AS promo_pct
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
""".replace('%27', "'"))
def tpch_q14_promo(spark, sf):
    # Q14: conditional aggregate ratio over a month of shipments; part is
    # the broadcast dimension, the date filter reaches the lineitem scan.
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((100 * dsum(F.when(F.col("p_type") == "PROMO", rev))
              / dsum(rev)).alias("promo_pct"))
    )


@q("tpch_q17_small_qty", f"""
SELECT {DSUM('l_extendedprice')} AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#2'
  AND l.l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
""")
def tpch_q17_small_qty(spark, sf):
    # Q17 shape: correlated scalar AVG subquery, decorrelated to a
    # per-part aggregate + join (what Catalyst/DuckDB both rewrite it
    # to). l_quantity is integral, so the double avg (sum/count) is
    # exact in any summation order and the 0.5* threshold compares
    # bit-identically across engines.
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    per_part = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == per_part.t_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum(F.col("l_extendedprice")).alias("revenue"))
    )


@q("tpch_q19_disjunctive", f"""
SELECT {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
""")
def tpch_q19_disjunctive(spark, sf):
    # Q19 shape: disjunction of conjunctive predicates across both join
    # sides. The single-side implications (brand IN (...), quantity
    # within the union range) are stated explicitly so they push to the
    # scans; the full OR evaluates after the broadcast join.
    li = _t(spark, sf, "lineitem").filter(F.col("l_quantity").between(1, 40))
    part = _t(spark, sf, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
    arm = lambda br, s1, s2, q1, q2: (  # noqa: E731
        (F.col("p_brand") == br) & F.col("p_size").between(s1, s2)
        & F.col("l_quantity").between(q1, q2))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(arm("Brand#1", 1, 15, 1, 20) | arm("Brand#2", 10, 30, 10, 30)
                | arm("Brand#3", 20, 50, 20, 40))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q("tpch_q21_exclusive", """
WITH hits AS (
  SELECT l.l_suppkey, count(*) AS n
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
  WHERE EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l.l_orderkey AND l2.l_suppkey <> l.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l.l_orderkey AND l3.l_quantity > 45)
  GROUP BY l.l_suppkey)
SELECT s_name, CAST(n AS BIGINT) AS numwait
FROM hits JOIN supplier ON s_suppkey = l_suppkey
ORDER BY numwait DESC, s_name LIMIT 10
""")
def tpch_q21_exclusive(spark, sf):
    # Q21 shape: EXISTS + NOT EXISTS over the same fact table,
    # decorrelated into one per-order aggregate that answers both
    # predicates in a single shuffle (distinct suppliers >= 2, max
    # quantity <= 45) — instead of two separate semi/anti joins each
    # re-shuffling lineitem.
    li = _t(spark, sf, "lineitem")
    orders_f = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F") \
        .select("o_orderkey")
    per_order = li.groupBy(F.col("l_orderkey").alias("g_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_quantity").alias("max_qty"))
    ok_orders = per_order.filter((F.col("n_supp") >= 2) & (F.col("max_qty") <= 45)) \
        .select("g_orderkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        li.join(orders_f, li.l_orderkey == orders_f.o_orderkey)
        .join(ok_orders, li.l_orderkey == ok_orders.g_orderkey)
        .groupBy("l_suppkey").agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name")).limit(10)
    )


@q("tpch_q22_idle_rich", f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       {DSUM('c_acctbal')} AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
                   FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""")
def tpch_q22_idle_rich(spark, sf):
    # Q22 shape: scalar subquery threshold + NOT EXISTS anti join. The
    # global avg is computed as an exact decimal sum / count (identical
    # doubles in both engines; a plain double avg would be summation-
    # order sensitive at the comparison boundary) and broadcast as a
    # 1-row dimension.
    cust = _t(spark, sf, "customer")
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(
        (dsum(F.col("c_acctbal")) / F.count("*")).alias("__thr"))
    urgent = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_cust"), dsum(F.col("c_acctbal")).alias("total_bal"))
    )


@q("tpch_q2_min_cost_supplier", """
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey),
best AS (SELECT l_partkey AS b_partkey, min(cost) AS min_cost
         FROM offers GROUP BY l_partkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type
FROM offers o
JOIN best ON o.l_partkey = b_partkey AND o.cost = min_cost
JOIN part ON p_partkey = o.l_partkey AND p_type = 'ECONOMY'
           AND p_size BETWEEN 10 AND 20
JOIN supplier ON s_suppkey = o.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey AND r_name = 'ASIA'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""")
def tpch_q2_min_cost_supplier(spark, sf):
    # Q2 shape (no partsupp in this schema: lineitem plays the
    # part-supplier offer relation, unit price = extendedprice/quantity):
    # the correlated MIN subquery decorrelates into a per-part aggregate
    # joined back on (part, cost). Double division is IEEE-identical in
    # both engines, so the min-cost equi-join compares exactly. Dims
    # broadcast; the two aggregates reuse one shuffle on l_partkey.
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(
        (F.col("p_type") == "ECONOMY") & F.col("p_size").between(10, 20)
    ).select("p_partkey", "p_type")
    # Pre-filter the fact side with a broadcast semi-join on the
    # selective part predicate (~4% of parts) BEFORE the two
    # aggregates: min-per-(part,supp) and min-per-part commute with a
    # partkey-level filter, so results are identical while the offer
    # aggregate and the (part, cost) self-join shuffle ~25x fewer rows.
    li = li.join(F.broadcast(part.select("p_partkey")),
                 li.l_partkey == F.col("p_partkey"), "left_semi")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("min_cost"))
    supp = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        offers.join(best, (offers.l_partkey == best.b_partkey)
                    & (offers.cost == best.min_cost))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@q("tpch_q9_profit", f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey AND p_name LIKE '%red%'
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
GROUP BY n_name, year(o_orderdate)
""")
def tpch_q9_profit(spark, sf):
    # Q9 shape (profit by supplier nation and order year; no
    # ps_supplycost in this schema so profit is discounted revenue):
    # three broadcast dims against lineitem, one fact-fact join with
    # orders, one aggregate. The LIKE filter prunes parts BEFORE the
    # broadcast, so the join probe is against the small filtered set.
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(F.col("p_name").like("%red%")).select("p_partkey")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    orders = _t(spark, sf, "orders").select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"))
    )


@q("tpch_q11_important_stock", """
WITH val AS (
  SELECT l_partkey AS partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS value_dec
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey AND n_name = 'NATION_3'
  GROUP BY partkey)
SELECT partkey, CAST(value_dec AS DOUBLE) AS value
FROM val
WHERE value_dec * 1000 > (SELECT sum(value_dec) FROM val)
ORDER BY value DESC, partkey
""")
def tpch_q11_important_stock(spark, sf):
    # Q11 shape: grouped value per part vs a global scalar threshold
    # (share > 0.1%). All arithmetic stays DECIMAL until the output cast
    # — the threshold compare is exact in any summation order in both
    # engines (value*1000 > total avoids a lossy decimal*0.001). The
    # per-part frame feeds both the rows and the scalar, so it is
    # materialized once; the 1-row total broadcasts.
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").filter(F.col("n_name") == "NATION_3") \
        .select("n_nationkey")
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("value_dec"))
        .localCheckpoint(eager=False)
    )
    total = val.agg(F.sum("value_dec").alias("__tot"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * 1000 > F.col("__tot"))
        .select("partkey", F.col("value_dec").cast("double").alias("value"))
        .orderBy(F.desc("value"), "partkey")
    )


@q("tpch_q20_excess_suppliers", """
WITH sold AS (
  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey AND p_name LIKE 'small%'
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey, l_suppkey),
tot AS (SELECT l_partkey AS t_partkey, CAST(sum(qty) AS BIGINT) AS part_qty
        FROM sold GROUP BY l_partkey),
dominant AS (
  SELECT DISTINCT l_suppkey FROM sold JOIN tot ON l_partkey = t_partkey
  WHERE qty * 2 > part_qty)
SELECT s_name, n_name
FROM dominant
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
ORDER BY s_name
""")
def tpch_q20_excess_suppliers(spark, sf):
    # Q20 shape (no partsupp: "excess stock" becomes "supplier ships
    # more than half a part's volume"): a nested-aggregate semi-join
    # chain — filtered parts -> per-(part, supplier) quantities -> the
    # per-part total joined back -> DISTINCT suppliers -> name lookup.
    # Quantities are integral; summing as BIGINT keeps the halving
    # compare exact in both engines. The two aggregates share the
    # l_partkey shuffle; dims broadcast.
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
    part = _t(spark, sf, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    sold = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("qty"))
        .localCheckpoint(eager=False)
    )
    tot = sold.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("part_qty"))
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        sold.join(tot, sold.l_partkey == tot.t_partkey)
        .filter(F.col("qty") * 2 > F.col("part_qty"))
        .select("l_suppkey").distinct()
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


_SHINGLE_SQL = """
  SELECT doc_id, string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents"""


@q("text_bm25", f"""
WITH d AS (SELECT doc_id, w, len(w) AS dl FROM ({_SHINGLE_SQL}) base),
consts AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'join', 'vector') GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT doc_id,
       round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
                 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
FROM tf JOIN dft USING (term), consts
GROUP BY doc_id
""")
def text_bm25(spark, sf):
    # Okapi BM25 of every document against a fixed query-term bag, as a
    # pure DataFrame aggregation (operators/retrieval.py): explode
    # bounded to |query| terms per doc via array_intersect, term df
    # broadcast back, corpus constants a 1-row broadcast. Score rounded
    # to 6dp — the sum over query terms is a genuine float reduction
    # (order-sensitive in the last ulp) in both engines.
    from clinpy_spark.operators.retrieval import bm25_scores

    out = bm25_scores(_t(spark, sf, "documents"), ["spark", "join", "vector"])
    return out.select("doc_id", F.round("score", 6).alias("score"))


@q("text_lm_surprisal", f"""
WITH d AS (SELECT doc_id, w FROM ({_SHINGLE_SQL}) base),
pairs AS (
  SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
  FROM d, unnest(range(1, len(w))) AS u(i)),
uni AS (SELECT prev, count(*) AS c1 FROM (SELECT unnest(w) AS prev FROM d) GROUP BY prev),
vocab AS (SELECT count(*) AS v FROM uni),
bgc AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(c1 + v) - ln(c2 + 1)), 6) AS surprisal
FROM pairs JOIN bgc USING (prev, cur) JOIN uni USING (prev), vocab
GROUP BY doc_id
""")
def text_lm_surprisal(spark, sf):
    # Self-trained bigram LM quality scoring (operators/lm.py): mean
    # -ln p(cur|prev) per doc with add-one smoothing — the CCNet-style
    # statistical gate with no external model. One tokenization feeds
    # model counts and scoring rows; 6dp rounding absorbs the float
    # mean's summation order.
    from clinpy_spark.operators.lm import bigram_surprisal

    out = bigram_surprisal(_t(spark, sf, "documents"))
    return out.select("doc_id", "n_bigrams", F.round("surprisal", 6).alias("surprisal"))


@q("text_trigram_ppl", f"""
WITH d AS (SELECT doc_id, w FROM ({_SHINGLE_SQL}) base),
tris AS (
  SELECT doc_id, w[i - 1] AS p2, w[i] AS p1, w[i + 1] AS cur
  FROM d, unnest(range(2, len(w))) AS u(i)),
bigrams AS (
  SELECT w[i] AS bp, w[i + 1] AS bc
  FROM d, unnest(range(1, len(w))) AS u(i)),
tric AS (SELECT p2, p1, cur, count(*) AS c3 FROM tris GROUP BY 1, 2, 3),
bgc AS (SELECT bp, bc, count(*) AS c2 FROM bigrams GROUP BY 1, 2),
uni AS (SELECT u AS tok, count(*) AS c1 FROM (SELECT unnest(w) AS u FROM d) GROUP BY 1),
consts AS (SELECT CAST(sum(c1) AS BIGINT) AS n, count(*) AS v FROM uni)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
       round(avg(-ln(
         0.6 * c3 / ctx.c2
         + 0.3 * cont.c2 / u1.c1
         + 0.1 * (uc.c1 + 1) / (n + v)
       )), 6) AS surprisal
FROM tris t
JOIN tric USING (p2, p1, cur)
JOIN bgc ctx ON ctx.bp = t.p2 AND ctx.bc = t.p1
JOIN bgc cont ON cont.bp = t.p1 AND cont.bc = t.cur
JOIN uni u1 ON u1.tok = t.p1
JOIN uni uc ON uc.tok = t.cur, consts
GROUP BY t.doc_id
""")
def text_trigram_ppl_q(spark, sf):
    # Jelinek-Mercer interpolated trigram LM (operators/lm.py):
    # p = .6*c3/c2(ctx) + .3*c2/c1 + .1*(c1+1)/(N+V); per-doc mean
    # -ln p. The step up from text_lm_surprisal — same one-pass
    # tokenization, count joins on the n-gram keys, (N,V) broadcast.
    from clinpy_spark.operators.lm import trigram_interpolated_surprisal

    out = trigram_interpolated_surprisal(_t(spark, sf, "documents"))
    return out.select("doc_id", "n_trigrams", F.round("surprisal", 6).alias("surprisal"))


@q("retrieval_rrf", f"""
WITH d AS (SELECT doc_id, w, len(w) AS dl FROM ({_SHINGLE_SQL}) base),
consts AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
tok AS (SELECT doc_id, dl, unnest(w) AS term FROM d),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM tok
       WHERE term IN ('spark', 'join', 'vector') GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
bm AS (SELECT doc_id,
              round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
                        / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
       FROM tf JOIN dft USING (term), consts GROUP BY doc_id),
ti AS (SELECT doc_id,
              round(sum(tf * ln(CAST(n_docs AS DOUBLE) / df)), 6) AS score
       FROM tf JOIN dft USING (term), consts GROUP BY doc_id),
bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk FROM bm),
tir AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rk FROM ti),
un AS (SELECT doc_id, 1.0 / (60 + rk) AS rr FROM bmr
       UNION ALL SELECT doc_id, 1.0 / (60 + rk) FROM tir)
SELECT doc_id, round(sum(rr), 6) AS rrf_score
FROM un GROUP BY doc_id
""")
def retrieval_rrf_q(spark, sf):
    # Reciprocal Rank Fusion of two scorers over the same fixed query
    # (operators/retrieval.py::rrf_fuse): BM25 and query-directed
    # TF-IDF rank the matched documents independently, and each doc's
    # fused score is sum of 1/(60 + rank) — rank-based fusion needs no
    # score normalization, the standard first-stage hybrid-retrieval
    # combiner. Ranks are taken on 6-dp-rounded scores with an id
    # tie-break so the oracle reproduces the identical permutation.
    from clinpy_spark.operators.retrieval import (
        bm25_scores,
        rrf_fuse,
        tfidf_query_scores,
    )

    docs = _t(spark, sf, "documents")
    terms = ["spark", "join", "vector"]
    return rrf_fuse(
        [bm25_scores(docs, terms), tfidf_query_scores(docs, terms)]
    ).select("doc_id", "rrf_score")


@q("text_tfidf_top_term", f"""
WITH d AS (SELECT doc_id, w FROM ({_SHINGLE_SQL}) base),
consts AS (SELECT count(*) AS n_docs FROM d),
tf AS (SELECT doc_id, unnest(w) AS term FROM d),
tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
wts AS (SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / df) AS weight
        FROM tfc JOIN dft USING (term), consts),
rk AS (SELECT doc_id, term, weight,
              row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, term) AS rk
       FROM wts)
SELECT doc_id, term AS top_term, round(weight, 6) AS weight
FROM rk WHERE rk = 1
""")
def text_tfidf_top_term(spark, sf):
    # Most-characteristic term per document by TF-IDF weight
    # (operators/retrieval.py tfidf_vectors + a rank window with a
    # deterministic term tie-break) — the lexical feature extraction
    # behind cheap quality classifiers and topic subsetting.
    from pyspark.sql import Window

    from clinpy_spark.operators.retrieval import tfidf_vectors

    wts = tfidf_vectors(_t(spark, sf, "documents"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    return (
        wts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("term").alias("top_term"),
                F.round("weight", 6).alias("weight"))
    )


@q("text_decontaminate", f"""
WITH words AS ({_SHINGLE_SQL}),
sh AS (
  SELECT doc_id, unnest(CASE WHEN len(w) - 4 <= 0 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')) END) AS s
  FROM words),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
train AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
hits AS (SELECT t.doc_id, count(*) AS n_hit
         FROM train t JOIN bench b ON t.s = b.s GROUP BY t.doc_id)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(coalesce(any_value(h.n_hit), 0) AS BIGINT) AS n_hit
FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
GROUP BY t.doc_id
""")
def text_decontaminate_q(spark, sf):
    # Benchmark decontamination: flag training docs sharing word 5-grams
    # with a held-out eval set (doc_id % 97 — stand-in for a benchmark
    # corpus). Shingle set per side is distinct'd BEFORE the join, so the
    # join key space is the distinct-shingle set, not the corpus; at
    # 100 TB join on a hash of the shingle rather than the string.
    from clinpy_spark.functions.text import shingles

    # Materialize the shingle array once (Catalyst re-inlines non-cheap
    # aliases into every reference otherwise — see token_hashes note).
    docs = _t(spark, sf, "documents").select(
        "doc_id", shingles(F.col("text"), 5).alias("__sh"))
    # Two r8 shuffle cuts: (1) the per-doc DISTINCT happens inside the
    # row (array_distinct) — no (doc_id, shingle) exchange at all, and
    # n_grams is a pure projection; (2) the join key is xxhash64 of the
    # shingle, so the one remaining wide shuffle (train explode ⋈ bench)
    # moves 8-byte longs, not ~30-char strings — the "hash shingles at
    # 100 TB" note, applied. Collisions are ~|bench|*|train|/2^64
    # (~1e-7 at sf1) and deterministic; the DuckDB oracle stays
    # string-exact, so a collision would surface as a hash mismatch,
    # never silently.
    dedup = docs.select(
        "doc_id",
        F.transform(F.array_distinct("__sh"),
                    lambda x: F.xxhash64(x)).alias("__hs"),
    )
    bench = (
        dedup.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode("__hs").alias("s")).distinct()
    )
    train = dedup.filter(F.col("doc_id") % 97 != 0)
    totals = train.select("doc_id", F.size("__hs").alias("n_grams"))
    hits = (
        train.select("doc_id", F.explode("__hs").alias("s"))
        .join(bench, "s")
        .groupBy("doc_id").agg(F.count("*").alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select("doc_id", "n_grams", F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
    )


@q("text_repetition", """
WITH w AS (
  SELECT doc_id,
         len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS n_words,
         len(list_distinct(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS n_distinct
  FROM documents),
f AS (SELECT doc_id, n_words, n_distinct,
             1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE) AS dup_frac
      FROM w)
SELECT CAST(floor(dup_frac * 10) AS INTEGER) AS rep_decile,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words
FROM f GROUP BY 1
""")
def text_repetition_q(spark, sf):
    # Word-repetition profile (the "gibberish/boilerplate" quality gate
    # of corpus curation): duplicate-word fraction per doc, bucketed
    # into deciles. Single scan, two array expressions, one small agg.
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    d = _t(spark, sf, "documents").select(
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_distinct"))
    dup = 1.0 - F.col("n_distinct").cast("double") / F.col("n_words").cast("double")
    return (
        d.select("n_words", F.floor(dup * 10).cast("int").alias("rep_decile"))
        .groupBy("rep_decile")
        .agg(F.count("*").alias("n_docs"), F.sum("n_words").alias("total_words"))
    )


@q("sim_range_search", """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS mid, embedding::DOUBLE[] AS cv FROM embeddings)
SELECT qid AS query_id, mid AS match_id,
       round(list_cosine_similarity(qv, cv), 4) AS cosine_sim
FROM q, c
WHERE qid <> mid AND list_cosine_similarity(qv, cv) >= 0.3
""")
def sim_range_search_q(spark, sf):
    # Radius search twin of sim_topk: all matches above a similarity
    # floor — no ranking window, the threshold cuts during the scoring
    # scan itself.
    from clinpy_spark.operators.similarity import brute_force_range

    emb = _t(spark, sf, "embeddings")
    # limit(5): plan-level probe bound (row-wise no-op, ids unique)
    return brute_force_range(
        emb.filter(F.col("vec_id") < 5).limit(5), emb, min_sim=0.3)


@q("dedup_passage_keepfirst", """
WITH words AS (
  SELECT doc_id, string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents),
pos AS (SELECT doc_id, w, unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos FROM words),
ch AS (SELECT doc_id, pos, array_to_string(w[(pos*10+1):(pos*10+10)], ' ') AS chunk FROM pos),
rk AS (SELECT doc_id, pos, chunk,
              row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rk
       FROM ch)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(CASE WHEN rk = 1 THEN 1 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN rk = 1 THEN chunk END, ' ' ORDER BY pos), '') AS clean_text
FROM rk GROUP BY doc_id
""")
def dedup_passage_keepfirst_q(spark, sf):
    # C4-style corpus-global passage dedup + document reconstruction:
    # every repeated 10-word passage keeps only its first (doc, pos)
    # occurrence and docs are reassembled from the survivors. One
    # explode, one window shuffle on the passage, one reassembly agg.
    from clinpy_spark.operators.dedup import passage_dedup

    return passage_dedup(_t(spark, sf, "documents"), chunk_words=10)


@q("dedup_substring_spans", f"""
WITH docs AS (SELECT doc_id, w, len(w) AS n FROM ({_SHINGLE_SQL}) base),
wins AS (SELECT doc_id, w, unnest(range(0, n - 7)) AS pos FROM docs WHERE n >= 8),
grams AS (SELECT doc_id, pos, array_to_string(w[(pos+1):(pos+8)], ' ') AS gram FROM wins),
c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS cnt FROM grams),
cov AS (SELECT DISTINCT doc_id, pos + t.i AS tp
        FROM c, (SELECT unnest(range(0, 8)) AS i) t WHERE cnt >= 2),
perdoc AS (SELECT d.doc_id, d.n, coalesce(cv.ndup, 0) AS ndup
           FROM docs d LEFT JOIN (SELECT doc_id, count(*) AS ndup FROM cov GROUP BY 1) cv
           USING (doc_id))
SELECT s.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.n) AS BIGINT) AS total_tokens,
       CAST(sum(p.ndup) AS BIGINT) AS dup_tokens,
       round(CAST(sum(p.ndup) AS DOUBLE) / sum(p.n), 4) AS dup_frac
FROM perdoc p JOIN documents s USING (doc_id)
GROUP BY s.source
""")
def dedup_substring_spans_q(spark, sf):
    # ExactSubstr profile (Lee et al. 2022): fraction of each source's
    # tokens covered by an 8-gram whose exact text occurs >= 2 times
    # corpus-wide. One explode (linear in tokens), one shuffle on the
    # gram, one shuffle back on the doc id — the relational twin of the
    # paper's suffix-array scan; at 100 TB the gram key becomes a hash.
    from clinpy_spark.operators.dedup import substring_span_profile

    docs = _t(spark, sf, "documents")
    prof = substring_span_profile(docs, k=8)
    return (
        prof.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_dup_tokens").alias("dup_tokens"),
            F.round(F.sum("n_dup_tokens").cast("double") / F.sum("n_tokens"), 4).alias("dup_frac"),
        )
    )


@q("dedup_substring_strip", f"""
WITH docs AS (SELECT doc_id, w, len(w) AS n FROM ({_SHINGLE_SQL}) base),
wins AS (SELECT doc_id, w, unnest(range(0, n - 7)) AS pos FROM docs WHERE n >= 8),
grams AS (SELECT doc_id, pos, array_to_string(w[(pos+1):(pos+8)], ' ') AS gram FROM wins),
c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS cnt,
             row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk
      FROM grams),
cov AS (SELECT DISTINCT doc_id, pos + t.i AS tp
        FROM c, (SELECT unnest(range(0, 8)) AS i) t WHERE cnt >= 2 AND rk > 1),
tok AS (SELECT doc_id, unnest(w) AS tok, unnest(range(0, n)) AS tp FROM docs),
kept AS (SELECT t.doc_id, t.tp, t.tok FROM tok t
         LEFT JOIN cov ON cov.doc_id = t.doc_id AND cov.tp = t.tp
         WHERE cov.doc_id IS NULL),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY tp) AS clean_text
        FROM kept GROUP BY doc_id)
SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_tokens,
       CAST(d.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(a.clean_text, '') AS clean_text
FROM docs d LEFT JOIN agg a USING (doc_id)
WHERE d.n - coalesce(a.n_kept, 0) > 0
""")
def dedup_substring_strip_q(spark, sf):
    # ExactSubstr ACTION: remove every token covered by a non-first
    # occurrence of a duplicated 8-gram (global (doc, pos) order picks
    # the survivor) and reassemble the cleaned documents. Emits only
    # docs that lost tokens; full clean_text is hash-compared against
    # the oracle's independent reconstruction.
    from clinpy_spark.operators.dedup import strip_duplicate_spans

    out = strip_duplicate_spans(_t(spark, sf, "documents"), k=8)
    return out.filter(F.col("n_removed") > 0)


@q("tpch_q7_nation_volume", f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS yr,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
""")
def tpch_q7_nation_volume(spark, sf):
    # Q7 shape: the same dimension (nation) joined in TWO ROLES —
    # supplier's and customer's — with a cross-role disjunction. Both
    # nation legs and supplier broadcast; the lineitem⋈orders⋈customer
    # spine shuffles on its keys (AQE broadcasts what fits).
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    n1 = nat.toDF("n1_key", "supp_nation")
    n2 = nat.toDF("n2_key", "cust_nation")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    pair_ok = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair_ok)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("yr"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@q("tpch_q8_market_share", f"""
SELECT CAST(year(l_shipdate) AS INTEGER) AS yr,
       {DSUM("CASE WHEN n1.n_name = 'NATION_2' THEN l_extendedprice * (1 - l_discount) END")}
         / {DSUM('l_extendedprice * (1 - l_discount)')} AS mkt_share
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n2.n_regionkey AND r_name = 'ASIA'
GROUP BY 1
""")
def tpch_q8_market_share(spark, sf):
    # Q8 shape: market share — conditional share of one supplier nation
    # within a customer region, per year. Same two-role nation dimension
    # as q7 plus the region rollup leg.
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n1 = _t(spark, sf, "nation").select("n_nationkey", "n_name").toDF("n1_key", "supp_nation")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n2 = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey").toDF("n2_key", "n2_region")
    region = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(region), F.col("n2_region") == F.col("r_regionkey"))
        .groupBy(F.year("l_shipdate").alias("yr"))
        .agg((dsum(F.when(F.col("supp_nation") == "NATION_2", rev)) / dsum(rev))
             .alias("mkt_share"))
    )


@q("tpch_q15_top_supplier", f"""
WITH rev AS (
  SELECT l_suppkey, {DSUM('l_extendedprice * (1 - l_discount)')} AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_name, total_rev
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
""")
def tpch_q15_top_supplier(spark, sf):
    # Q15 shape: aggregate view + scalar MAX over it, keeping the
    # argmax rows. The max is a window over the (dimension-sized)
    # aggregate, not a second scan of the fact table; equality on the
    # exact decimal-cast revenue is deterministic across engines.
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01"))
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    w = Window.partitionBy()
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn("__mx", F.max("total_rev").over(w))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "total_rev")
    )


# --- rows-only checks (non-SQL-expressible; driver records weaker gate) ---

@q("dedup_minhash_lsh")
def dedup_minhash_lsh_q(spark, sf):
    # MinHash + LSH banding near-dup candidates, exact-Jaccard verified.
    # Rows-only (xxhash64 fast path); the pipeline itself is oracled by
    # dedup_minhash_portable below.
    return minhash_near_duplicates(_t(spark, sf, "documents"), threshold=0.5)


def _minhash_oracle_sql(num_hashes: int = 64, bands: int = 16,
                        max_id: int = 300, threshold: float = 0.5) -> str:
    """DuckDB twin of portable-mode minhash_near_duplicates: 60-bit
    permutation hashes from md5(shingle || '|' || i), per-doc min
    aggregate, md5 band hashing over 4-signature slices, bucket
    equi-join for candidates, exact string-shingle Jaccard verify."""
    rpb = num_hashes // bands
    hex60 = lambda expr: " + ".join(  # noqa: E731
        f"(strpos('0123456789abcdef', substr(md5({expr}), {k + 1}, 1)) - 1) * {16 ** (14 - k)}"
        for k in range(15)
    )
    mins = ",\n    ".join(
        "MIN({}) AS h{}".format(hex60("s || '|%d'" % i), i)
        for i in range(num_hashes)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(','"
        + "".join(f", h{b * rpb + r}" for r in range(rpb))
        + ")) AS bh FROM msigs"
        for b in range(bands)
    )
    return f"""
WITH ptoks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents WHERE doc_id < {max_id}
),
psh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
         ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN generate_series(1, len(tk) - 2)]
    END) AS s
  FROM ptoks
),
msigs AS (SELECT doc_id, {mins} FROM psh GROUP BY doc_id),
banded AS ({band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
                             AND a.doc_id < b.doc_id
),
msizes AS (SELECT doc_id, count(*) AS sz FROM psh GROUP BY doc_id),
minter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cands c JOIN psh x ON x.doc_id = c.id_a
               JOIN psh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY 1, 2
),
mj AS (
  SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jac
  FROM minter JOIN msizes sa ON sa.doc_id = minter.id_a
              JOIN msizes sb ON sb.doc_id = minter.id_b
)
SELECT id_a, id_b, round(jac, 4) AS jaccard FROM mj WHERE jac >= {threshold}
"""


def _fuzzy_decon_oracle_sql(num_hashes: int = 64, bands: int = 16,
                            threshold: float = 0.3) -> str:
    """DuckDB twin of the CROSS-CORPUS portable minhash decontamination:
    one signature table over all docs, band buckets joined train-side
    (doc_id % 97 != 0) against benchmark-side (doc_id % 97 == 0), exact
    string-shingle Jaccard verify on candidates."""
    rpb = num_hashes // bands
    hex60 = lambda expr: " + ".join(  # noqa: E731
        f"(strpos('0123456789abcdef', substr(md5({expr}), {k + 1}, 1)) - 1) * {16 ** (14 - k)}"
        for k in range(15)
    )
    mins = ",\n    ".join(
        "MIN({}) AS h{}".format(hex60("s || '|%d'" % i), i)
        for i in range(num_hashes)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(','"
        + "".join(f", h{b * rpb + r}" for r in range(rpb))
        + ")) AS bh FROM msigs"
        for b in range(bands)
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- the benchmark side: lightly reworded copies of every 50th training
  -- doc (planted leakage the exact-shingle pass would partially miss)
  SELECT doc_id + 1000000 AS doc_id, text || ' held out eval suffix' AS text
  FROM documents WHERE doc_id % 50 = 0
),
ptoks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM corpus
),
psh AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
         ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN generate_series(1, len(tk) - 2)]
    END) AS s
  FROM ptoks
),
msigs AS (SELECT doc_id, {mins} FROM psh GROUP BY doc_id),
banded AS ({band_selects}),
cands AS (
  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id
  FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < 1000000 AND b.doc_id >= 1000000
),
msizes AS (SELECT doc_id, count(*) AS sz FROM psh GROUP BY doc_id),
minter AS (
  SELECT c.train_id, c.bench_id, count(*) AS i
  FROM cands c JOIN psh x ON x.doc_id = c.train_id
               JOIN psh y ON y.doc_id = c.bench_id AND y.s = x.s
  GROUP BY 1, 2
),
mj AS (
  SELECT train_id, bench_id, i::DOUBLE / (sa.sz + sb.sz - i) AS jac
  FROM minter JOIN msizes sa ON sa.doc_id = minter.train_id
              JOIN msizes sb ON sb.doc_id = minter.bench_id
)
SELECT train_id, bench_id, round(jac, 4) AS jaccard FROM mj WHERE jac >= {threshold}
"""


@q("text_fuzzy_decontaminate", _fuzzy_decon_oracle_sql())
def text_fuzzy_decontaminate_q(spark, sf):
    # Paraphrase-robust decontamination: training docs near-duplicating
    # a benchmark doc (MinHash bands joined CROSS-corpus, benchmark side
    # broadcast, exact-Jaccard verify on candidates) — catches reworded
    # eval leakage that exact-shingle/Bloom decontamination misses. The
    # benchmark here is a deterministic light rewording of every 50th
    # training doc (planted leakage, same expression in both engines),
    # so the flagged set is non-trivial. Portable hashing makes every
    # stage (64 permutation minima, band buckets, verify) recomputable
    # by the oracle.
    from clinpy_spark.operators.dedup import minhash_decontaminate

    docs = _t(spark, sf, "documents")
    bench = (docs.filter(F.col("doc_id") % 50 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     F.concat(F.col("text"), F.lit(" held out eval suffix")).alias("text")))
    return minhash_decontaminate(docs, bench, threshold=0.3, portable=True)


@q("dedup_minhash_portable", _minhash_oracle_sql())
def dedup_minhash_portable_q(spark, sf):
    # The ENTIRE minhash pipeline — signature aggregate, LSH band
    # hashing, bucket-join candidate generation, exact-Jaccard verify —
    # ORACLE-CHECKED in portable (md5-derived hash) mode: DuckDB
    # recomputes every stage including the 64 permutation minima and
    # the band buckets, so a bug anywhere in the banding arithmetic or
    # the verify join mismatches the hash. Only the hash primitive
    # differs from the xxhash64 fast path benched as dedup_minhash_lsh.
    return minhash_near_duplicates(
        _t(spark, sf, "documents").filter(F.col("doc_id") < 300),
        threshold=0.5, portable=True,
    )


def _simhash_oracle_sql() -> str:
    """DuckDB twin of portable-mode simhash pairs: per-token 64-bit value
    re-derived digit-by-digit from md5 hex (bit j = bit j%4 of hex digit
    j//4 — the exact portable_token_hash64 layout), 64 vote sums, bit
    assembly into two 32-bit halves (no sign-bit shifts), then ALL-pairs
    Hamming <= 4. All-pairs is the correct oracle for the chunk-blocked
    engine query: pigeonhole blocking is recall-complete at the declared
    max_hamming, so the two pair sets must be identical."""
    digit = lambda k: f"(strpos('0123456789abcdef', substr(m, {k}, 1)) - 1)"  # noqa: E731
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (({digit(j // 4 + 1)} >> {j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(64)
    )
    bits = ",\n    ".join(
        f"CASE WHEN v{j} > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS b{j}" for j in range(64)
    )
    lo = " + ".join(f"(b{j} << {j})" for j in range(32))
    hi = " + ".join(f"(b{j} << {j - 32})" for j in range(32, 64))
    return f"""
WITH stoks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents
),
sh AS (SELECT doc_id, md5(t) AS m FROM stoks),
votes AS (SELECT doc_id, {votes} FROM sh GROUP BY doc_id),
bits AS (SELECT doc_id, {bits} FROM votes),
fp AS (SELECT doc_id, {lo} AS lo, {hi} AS hi FROM bits)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 4
"""


@q("dedup_simhash_pairs", _simhash_oracle_sql())
def dedup_simhash_pairs_q(spark, sf):
    # SimHash near-dup pairs; chunk blocking derived from max_hamming
    # (5 chunks of ~13 bits -> pigeonhole-complete recall at distance 4
    # with buckets still selective at corpus scale). ORACLE-CHECKED in
    # portable (md5-derived token hash) mode: the vote aggregate, bit
    # assembly, chunk blocking, and Hamming filter — the operator under
    # test — are the production path; only the token-hash primitive
    # swaps (xxhash64 has no DuckDB twin). The xxhash64 fast path is
    # pinned by test_simhash_chunks_derived_from_max_hamming.
    return simhash_near_duplicates(_t(spark, sf, "documents"), max_hamming=4, portable=True)


@q("dedup_ngram_jaccard", f"""
WITH {_NGRAM_PAIRS_SQL}
SELECT id_a, id_b, round(jac, 4) AS jaccard FROM jpairs
""")
def dedup_ngram_jaccard_q(spark, sf):
    # Exact n-gram Jaccard pairs, blocked by lang to bound the pair
    # space. ORACLE-CHECKED: word-3-gram shingling, the lang-blocked
    # pair join, and the set-Jaccard arithmetic are all exact string/
    # integer math DuckDB reproduces verbatim.
    return ngram_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.3, block_col="lang")


@q("dedup_embedding_cosine")
def dedup_embedding_cosine_q(spark, sf):
    # Embedding near-dup: LSH-bucketed cosine pairs over a threshold.
    # 0.3 is ~2.4 sigma for this synthetic corpus (random 64-dim vectors
    # never exceed ~0.44) — a production corpus with true dups would use
    # 0.95; the operator is threshold-parametric either way. Operating
    # point 16 tables x 4 planes: single-table 6-plane collision
    # probability at cos 0.3 is (1 - theta/pi)^6 ~ 4% (measured 4.7% —
    # exactly theory), useless as a dedup pass; the multi-table form
    # measures 0.92 pair recall (witnessed by dedup_embedding_recall).
    emb = _t(spark, sf, "embeddings")
    # min_sim pre-filters before the top-k window (rank-preserving —
    # see lsh_topk). 0.29995-1e-9: the smallest raw sim whose round(.,4)
    # can still pass the >=0.3 post-filter, minus double-repr slack.
    pairs = lsh_topk(emb, emb, k=20, n_planes=4, n_tables=16,
                     min_sim=0.29995 - 1e-9)
    return pairs.filter((F.col("cosine_sim") >= 0.3) & (F.col("query_id") < F.col("match_id")))


@q("dedup_semdedup")
def dedup_semdedup_q(spark, sf):
    # SemDeDup construction (public method: KMeans-cluster-blocked
    # embedding near-dup pairs, exact-cosine verified). Rows-only: the
    # KMeans quantizer isn't SQL-expressible; losslessness on clustered
    # structure is pinned by test_semdedup_pairs_cluster_blocked
    # against the unblocked brute-force pair set.
    from clinpy_spark.operators.similarity import semdedup_pairs

    return semdedup_pairs(
        _t(spark, sf, "embeddings"), n_clusters=16, threshold=0.3, max_iter=3
    )


@q("dedup_embedding_recall", """
SELECT 'embedding_pairs' AS family,
       CAST(0.8 AS DOUBLE) AS floor,
       true AS passed,
       count(*) AS n_corpus
FROM embeddings
""")
def dedup_embedding_recall_q(spark, sf):
    # Recall contract for the LSH-bucketed embedding pair emitter: the
    # fraction of EXACT cosine>=0.3 pairs (brute force, in-engine) that
    # the bucketed emitter finds must be >= 0.8 (measured 0.92 at
    # sf0.01, 0.90 at sf0.1). Oracle pins passed=true and recomputes
    # the corpus size. The exact side is the GEMM-vectorized declared
    # baseline (exact_cosine_pairs), localCheckpointed so the numerator
    # and denominator read ONE materialization, not two O(n^2) passes.
    from clinpy_spark.operators.similarity import exact_cosine_pairs

    emb = _t(spark, sf, "embeddings")
    exact = exact_cosine_pairs(emb, 0.3).localCheckpoint(eager=False)
    found = dedup_embedding_cosine_q(spark, sf).select(
        F.col("query_id").alias("id_a"), F.col("match_id").alias("id_b")
    )
    ne = exact.agg(F.count("*").alias("__n"))
    hit = exact.join(found, ["id_a", "id_b"], "left_semi").agg(F.count("*").alias("__hit"))
    nc = emb.agg(F.count("*").alias("n_corpus"))
    return ne.crossJoin(hit).crossJoin(nc).select(
        F.lit("embedding_pairs").alias("family"),
        F.lit(0.8).cast("double").alias("floor"),
        (F.col("__hit") >= F.col("__n") * 0.8).alias("passed"),
        F.col("n_corpus"),
    )


@q("sim_topk_lsh")
def sim_topk_lsh_q(spark, sf):
    # Approximate ANN: multi-table random-hyperplane bucketing at the
    # measured useful-recall operating point (8 tables x 4 planes;
    # single-table recall@10 on random unit vectors is near-zero — see
    # test_ann_recall_at_k_vs_bruteforce). Candidate cost is linear in
    # table count; misses decay exponentially.
    emb = _t(spark, sf, "embeddings")
    return lsh_topk(emb.filter(F.col("vec_id") < 50), emb, k=5, n_planes=4, n_tables=8)


@q("skew_salted_join", f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def skew_salted_join_q(spark, sf):
    # Salting is semantically transparent: the oracle is the PLAIN join.
    # Use when a skewed fact-fact equi-join can't broadcast and AQE can't
    # intervene (e.g. stream-stream). num_salts='auto' (r7 verdict #5)
    # probes key counts and salts ONLY hot keys, each over
    # ceil(count/hot_threshold) reducers — nothing hot means the plain
    # plan with zero replication. hot_threshold here is set below the
    # TPC-H ~4-7 lineitems/order so the hot+cold mixed path actually
    # executes against the oracle at every sf; production keeps the
    # 100k default (or passes catalog-backed key_stats).
    from clinpy_spark.operators.skew import salted_join

    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice", "l_discount"),
        orders, on=["o_orderkey"], num_salts="auto", hot_threshold=4,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@q("a2b_two_phase_distinct", """
SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM orders GROUP BY o_orderpriority
""")
def a2b_two_phase_distinct_q(spark, sf):
    # Two-phase distinct: phase 1 shuffles on (group, value) so a hot
    # group's distinct-set build fans out; equals COUNT(DISTINCT) exactly.
    from clinpy_spark.operators.skew import two_phase_count_distinct

    return two_phase_count_distinct(_t(spark, sf, "orders"), ["o_orderpriority"], "o_custkey")


@q("sim_topk_ivf")
def sim_topk_ivf_q(spark, sf):
    # Approximate ANN, scale path 2: IVF — KMeans coarse quantizer cells,
    # n_probe nearest cells searched per query (rows-only check: result is
    # approximate by contract; exactness when n_probe == n_centroids is
    # asserted in tests/test_operators.py).
    from clinpy_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    return ivf_topk(emb.filter(F.col("vec_id") < 50), emb, k=5, n_centroids=8, n_probe=2, max_iter=3)


@q("sim_topk_pq")
def sim_topk_pq_q(spark, sf):
    # Approximate ANN, scale path 3: product quantization — 64-dim
    # vectors compressed to 4 subspace codes (codebooks trained on a
    # bounded prefix, driver-side seeded Lloyd's), searched by ADC: the
    # scan reads ONLY the code column and does (m,k)-LUT gathers per
    # Arrow batch with a running per-partition top-k. Rows-only check:
    # approximate by contract; ADC == exact L2 on reconstructible
    # vectors is asserted in tests/test_operators.py.
    from clinpy_spark.operators.pq import fit_pq_codebooks, pq_encode, pq_topk

    emb = _t(spark, sf, "embeddings")
    cb = fit_pq_codebooks(emb, m=4, k=16, iters=5)
    codes = pq_encode(emb, cb)
    return pq_topk(emb.filter(F.col("vec_id") < 50), codes, cb, k=5)


@q("sim_topk_ivfpq")
def sim_topk_ivfpq_q(spark, sf):
    # Approximate ANN, scale path 4: IVFPQ — coarse-quantizer cells prune
    # to n_probe/n_centroids of the corpus BEFORE any distance math, then
    # ADC scores only the probed cells' PQ codes (per-query LUT built
    # once per batch). Rows-only: approximate by contract; the
    # full-probe + lossless-codebook degenerate case equals brute force
    # (tested).
    from clinpy_spark.operators.pq import ivfpq_topk

    emb = _t(spark, sf, "embeddings")
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 50), emb,
        k=5, n_centroids=8, n_probe=2, m=4, pq_k=16, iters=3,
    )


@q("sim_topk_sq8")
def sim_topk_sq8_q(spark, sf):
    # Approximate ANN, scale path 5: SQ8 scalar quantization — every
    # dimension affine-coded to one byte (bounds = distributed per-dim
    # min/max, a vector-width-bounded collect), encode in pure codegen,
    # the scan GEMMs the query block against each dequantized Arrow
    # batch of the byte-code table, exact re-rank on the |Q| x 30
    # shortlist. Rows-only: approximate by contract; the recall floor is
    # the oracled sim_recall_sq8 gate.
    from clinpy_spark.operators.sq import sq8_topk_rerank

    emb = _t(spark, sf, "embeddings")
    return sq8_topk_rerank(emb.filter(F.col("vec_id") < 50), emb, k=5, shortlist=30)


def _recall_gate(spark, sf, family: str, floor: float, approx_fn, metric: str = "cos"):
    """Shared shape of the ANN recall-contract queries: measure recall@10
    of an approximate operator against the exact top-k (computed in
    Spark, distributed) and emit one row (family, n_queries, k, floor,
    passed). The DuckDB oracle recomputes n_queries/k from the data and
    asserts passed=true — so the approximate contracts (recall >= floor)
    are witnessed by the driver's hash-checked correctness file, not
    only by pytest. A recall regression in bucketing/probing/codebook
    fit flips ``passed`` and the hash mismatches.

    Ties and seeds are deterministic (row_number tie-break on match_id,
    fixed hyperplane/KMeans seeds), so the measured value is stable for
    a given sf. Measured at sf0.01: lsh 0.928, ivf 0.892, pq 0.964
    (OPQ + shortlist-50 exact re-rank; raw ADC alone measures 0.568).
    """
    k, qn = 10, 25
    emb = _t(spark, sf, "embeddings")
    # limit(qn) = plan-level probe bound (row-wise no-op, ids unique);
    # lets the shape audit prove the exact-baseline nested loop bounded.
    queries = emb.filter(F.col("vec_id") < qn).limit(qn)
    if metric == "cos":
        exact = brute_force_topk(queries, emb, k=k)
    else:
        # exact squared-L2 baseline (PQ's ADC metric), GEMM-vectorized
        # (r7 verdict #8 — the interpreted per-pair fold was the gates'
        # dominant cost; the contract is identical: exact L2 top-k,
        # deterministic match_id tie-break)
        from clinpy_spark.operators.similarity import exact_l2_topk

        exact = exact_l2_topk(queries, emb, k=k)
    approx = approx_fn(queries, emb, k)
    hits = exact.select("query_id", "match_id").join(
        approx.select("query_id", "match_id"), ["query_id", "match_id"], "left_semi"
    )
    nq = queries.agg(F.countDistinct("vec_id").alias("n_queries"))
    return nq.crossJoin(hits.agg(F.count("*").alias("__hits"))).select(
        F.lit(family).alias("family"),
        F.col("n_queries"),
        F.lit(k).alias("k"),
        F.lit(floor).cast("double").alias("floor"),
        (F.col("__hits") >= F.col("n_queries") * k * floor).alias("passed"),
    )


def _recall_oracle(family: str, floor: float) -> str:
    return f"""
SELECT '{family}' AS family,
       count(*) AS n_queries,
       10 AS k,
       CAST({floor} AS DOUBLE) AS floor,
       true AS passed
FROM embeddings WHERE vec_id < 25
"""


@q("sim_recall_lsh", _recall_oracle("lsh", 0.85))
def sim_recall_lsh_q(spark, sf):
    # Recall contract for multi-table LSH at the useful operating point
    # (16 tables x 4 planes): recall@10 vs exact cosine must be >= 0.85.
    return _recall_gate(
        spark, sf, "lsh", 0.85,
        lambda qs, emb, k: lsh_topk(qs, emb, k=k, n_planes=4, n_tables=16),
    )


@q("sim_recall_ivf", _recall_oracle("ivf", 0.78))
def sim_recall_ivf_q(spark, sf):
    # Recall contract for IVF (16 cells, probe 6, spill 2): recall@10 vs
    # exact cosine must be >= 0.78. Operating point re-pinned in r8: the
    # coarse quantizer's numpy Lloyd fit produces BALANCED cells (the
    # prior Spark-ML fit left degenerate 1/1/1/67-sized cells whose
    # whale cells made probe-8 coverage — and the old 0.892 recall — an
    # accident that would skew-shuffle at 100 TB). On this structureless
    # corpus recall is coverage-bound, so the honest lever is SPANN-style
    # spill=2 (each vector listed in its 2 nearest cells): measured
    # 0.872 (sf0.01) / 0.900 (sf0.1) at ~75% of the scored volume of the
    # old probe-8 point.
    from clinpy_spark.operators.similarity import ivf_topk

    return _recall_gate(
        spark, sf, "ivf", 0.78,
        lambda qs, emb, k: ivf_topk(qs, emb, k=k, n_centroids=16, n_probe=6,
                                    spill=2),
    )


@q("sim_recall_pq", _recall_oracle("pq", 0.85))
def sim_recall_pq_q(spark, sf):
    # Recall contract for the PQ operating point: OPQ-rotated m=16/k=64
    # codebooks (same 96-bit code budget as plain PQ) + ADC shortlist of
    # 50 + exact re-rank — recall@10 vs exact L2 must be >= 0.85 (raw
    # ADC alone measured 0.57 at sf0.01; OPQ+rerank measured 0.96).
    from clinpy_spark.operators.pq import fit_opq, pq_encode, pq_topk_rerank

    def _pq(qs, emb, k):
        # opq_iters=5: the exact re-rank dominates recall (measured flat
        # 0.96-0.98 across 3..15 alternations), so the cheaper rotation
        # fit keeps the contract with ~2.5x less driver-side numpy
        rot, cb = fit_opq(emb, m=16, k=64, iters=8, seed=7, opq_iters=5)
        codes = pq_encode(emb, cb, rotation=rot)
        return pq_topk_rerank(qs, codes, cb, emb, k=k, shortlist=50, rotation=rot)

    return _recall_gate(spark, sf, "pq", 0.85, _pq, metric="l2")


@q("sim_recall_ivfpq", _recall_oracle("ivfpq", 0.75))
def sim_recall_ivfpq_q(spark, sf):
    # Recall contract for residual IVFPQ + exact re-rank: the cell probe
    # (n_probe=8/16, spill=2) bounds what any refinement can recover —
    # cells not probed are gone — and the shortlist-100 exact re-rank
    # recovers what 4-bit ADC ranks coarsely. Re-pinned in r8 with the
    # balanced numpy coarse quantizer (see sim_recall_ivf): measured
    # 0.908 (sf0.01) / 0.844 (sf0.1); floor 0.75.
    from clinpy_spark.operators.pq import exact_rerank, ivfpq_topk

    def _ivfpq(qs, emb, k):
        sl = ivfpq_topk(qs, emb, k=100, n_centroids=16, n_probe=8,
                        m=16, pq_k=16, seed=42, spill=2)
        return exact_rerank(sl, qs, emb, k=k)

    return _recall_gate(spark, sf, "ivfpq", 0.75, _ivfpq, metric="l2")


@q("sim_recall_sq8", _recall_oracle("sq8", 0.9))
def sim_recall_sq8_q(spark, sf):
    # Recall contract for SQ8 + exact re-rank (operators/sq.py): 8-bit
    # per-dimension quantization distorts far less than PQ's subspace
    # codes, so a 30-wide shortlist already recovers near-exact recall —
    # floor 0.9 (measured 1.00 at sf0.01).
    from clinpy_spark.operators.sq import sq8_topk_rerank

    return _recall_gate(
        spark, sf, "sq8", 0.9,
        lambda qs, emb, k: sq8_topk_rerank(qs, emb, k=k, shortlist=30),
        metric="l2",
    )


@q("a18_grouping_sets", """
SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS agg_priority,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS agg_status
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
""")
def a18_grouping_sets_q(spark, sf):
    # GROUPING SETS — the third member of the multi-dimensional agg
    # family next to a8_rollup / a8c_cube: per-priority totals,
    # per-status totals, and the grand total in ONE pass (Spark expands
    # to a single Expand + hash agg, not three scans). The agg_* marker
    # columns disambiguate "aggregated" NULLs for the hash compare.
    o = _t(spark, sf, "orders")
    g = o.groupingSets(
        [[F.col("o_orderpriority")], [F.col("o_orderstatus")], []],
        F.col("o_orderpriority"), F.col("o_orderstatus"))
    return g.agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias("agg_priority"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("agg_status"))


@q("e_pareto_concentration", """
WITH u AS (SELECT user_id, sum(value) AS tot FROM events
           WHERE event_type = 'purchase' GROUP BY 1),
r AS (SELECT user_id, tot,
             sum(tot) OVER (ORDER BY tot DESC, user_id) AS cum,
             sum(tot) OVER () AS grand,
             row_number() OVER (ORDER BY tot DESC, user_id) AS rk,
             count(*) OVER () AS n_users
      FROM u)
SELECT CAST(min(rk) FILTER (cum >= 0.5 * grand) AS BIGINT) AS users_for_50pct,
       CAST(min(rk) FILTER (cum >= 0.8 * grand) AS BIGINT) AS users_for_80pct,
       CAST(min(n_users) AS BIGINT) AS n_users,
       round(min(grand), 2) AS total_value
FROM r
""")
def e_pareto_concentration_q(spark, sf):
    # Pareto/concentration readout: how many top purchasers cover 50% /
    # 80% of purchase value (cumulative share over the ranked user
    # totals). The user-total table is small after the first groupBy,
    # so the global rank window is bounded by |users|, not events.
    ev = _t(spark, sf, "events").filter(F.col("event_type") == "purchase")
    u = ev.groupBy("user_id").agg(F.sum("value").alias("tot"))
    w = Window.orderBy(F.desc("tot"), F.asc("user_id"))
    r = u.select(
        "tot",
        F.sum("tot").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).alias("rk"),
    ).crossJoin(F.broadcast(u.agg(F.sum("tot").alias("grand"),
                                  F.count("*").alias("n_users"))))
    return r.agg(
        F.min(F.when(F.col("cum") >= 0.5 * F.col("grand"), F.col("rk"))).alias("users_for_50pct"),
        F.min(F.when(F.col("cum") >= 0.8 * F.col("grand"), F.col("rk"))).alias("users_for_80pct"),
        F.min("n_users").alias("n_users"),
        F.round(F.min("grand"), 2).alias("total_value"))


@q("e_ab_welch", """
WITH armed AS (
  SELECT event_type, value,
         CASE WHEN substr(md5(user_id || ':ab7'), 1, 8) < '80000000'
              THEN 'A' ELSE 'B' END AS arm
  FROM events),
s AS (
  SELECT event_type,
         count(*) FILTER (arm = 'A') AS na, count(*) FILTER (arm = 'B') AS nb,
         avg(value) FILTER (arm = 'A') AS ma, avg(value) FILTER (arm = 'B') AS mb,
         var_samp(value) FILTER (arm = 'A') AS va, var_samp(value) FILTER (arm = 'B') AS vb
  FROM armed GROUP BY 1)
SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       round(ma - mb, 6) AS mean_diff,
       round((ma - mb) / sqrt(va / na + vb / nb), 4) AS welch_t
FROM s
""")
def e_ab_welch_q(spark, sf):
    # A/B experiment readout: deterministic hash split of users into
    # arms (the same portable md5 coordinate as the samplers, so the
    # assignment is auditable), Welch's t statistic per event type from
    # one aggregation pass — the experimentation primitive next to the
    # bootstrap CI (s19).
    from clinpy_spark.operators.sample import sample_hash

    ev = _t(spark, sf, "events")
    arm = F.when(sample_hash(F.col("user_id").cast("string"), seed="ab7") < "80000000",
                 "A").otherwise("B")
    armed = ev.select("event_type", "value", arm.alias("arm"))
    isa, isb = F.col("arm") == "A", F.col("arm") == "B"
    s = armed.groupBy("event_type").agg(
        F.count(F.when(isa, 1)).alias("n_a"),
        F.count(F.when(isb, 1)).alias("n_b"),
        F.avg(F.when(isa, F.col("value"))).alias("ma"),
        F.avg(F.when(isb, F.col("value"))).alias("mb"),
        F.var_samp(F.when(isa, F.col("value"))).alias("va"),
        F.var_samp(F.when(isb, F.col("value"))).alias("vb"))
    return s.select(
        "event_type", "n_a", "n_b",
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb"))
                / F.sqrt(F.col("va") / F.col("n_a") + F.col("vb") / F.col("n_b")), 4)
        .alias("welch_t"))


@q("o8_two_phase_topk", """
WITH r AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 3
""")
def o8_two_phase_topk_q(spark, sf):
    # Skew-safe grouped top-k (operators/skew.py two_phase_topk):
    # phase 1 keeps each (group, salt) shard's local top-k, phase 2
    # ranks the <= salts*k survivors — no task ever sorts a whole whale
    # group. Oracle = the PLAIN single-window top-k: transparency
    # hash-proven. Completes the skew family next to salted_join and
    # two_phase_count_distinct.
    from clinpy_spark.operators.skew import two_phase_topk

    out = two_phase_topk(_t(spark, sf, "orders"), ["o_custkey"],
                         "o_totalprice", k=3, tie_col="o_orderkey")
    return out.select("o_custkey", "o_orderkey", "o_totalprice", "rank")


@q("text_readability", """
WITH m AS (
  SELECT source,
         greatest(len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')), 1) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syl
  FROM documents),
f AS (SELECT source,
             206.835 - 1.015 * (CAST(w AS DOUBLE) / s) - 84.6 * (CAST(syl AS DOUBLE) / w) AS flesch
      FROM m)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(flesch), 4) AS mean_flesch,
       CAST(sum(CASE WHEN flesch < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unreadable
FROM f GROUP BY source
""")
def text_readability_q(spark, sf):
    # Flesch-style readability per source: vowel-group syllable proxy,
    # [.!?]+ sentence runs — the readability band filter of classic
    # web-corpus curation, pure regex codegen, one agg.
    docs = _t(spark, sf, "documents")
    w = F.greatest(F.size(F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")), F.lit(1))
    s = F.greatest(F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0))), F.lit(1))
    syl = F.greatest(F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0))), F.lit(1))
    flesch = (F.lit(206.835) - F.lit(1.015) * (w.cast("double") / s)
              - F.lit(84.6) * (syl.cast("double") / w))
    return (docs.select("source", flesch.alias("flesch"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("flesch"), 4).alias("mean_flesch"),
                 F.sum((F.col("flesch") < 0).cast("long")).alias("n_unreadable")))


@q("dedup_template_fp", """
WITH fp AS (
  SELECT source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS exact_fp,
         md5(regexp_replace(regexp_replace(lower(trim(text)), '[0-9]+', '0', 'g'), '\\s+', ' ', 'g')) AS tmpl_fp
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT exact_fp) AS BIGINT) AS n_exact_unique,
       CAST(count(DISTINCT tmpl_fp) AS BIGINT) AS n_template_unique
FROM fp GROUP BY source
""")
def dedup_template_fp_q(spark, sf):
    # Template/boilerplate detection: a digit-normalized fingerprint
    # collapses docs that differ only in numbers (ids, dates, prices) —
    # n_exact_unique - n_template_unique counts the near-boilerplate
    # exact dedup misses. Pure fingerprint groupBy, linear.
    docs = _t(spark, sf, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    tmpl = F.regexp_replace(F.regexp_replace(F.lower(F.trim(F.col("text"))), "[0-9]+", "0"), r"\s+", " ")
    return (docs.select("source", F.md5(norm).alias("e"), F.md5(tmpl).alias("t"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("e").alias("n_exact_unique"),
                 F.countDistinct("t").alias("n_template_unique")))


@q("e_seasonal_anomalies", """
WITH h AS (
  SELECT event_type, CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) % 86400 / 3600) AS BIGINT) AS hod, value
  FROM events),
base AS (
  SELECT event_type, hod, avg(value) AS mu,
         CASE WHEN count(*) > 1 THEN stddev_samp(value) ELSE NULL END AS sigma,
         count(*) AS n
  FROM h GROUP BY 1, 2)
SELECT h.event_type, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN sigma IS NOT NULL AND sigma > 0
                      AND abs(value - mu) > 3 * sigma THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM h JOIN base USING (event_type, hod)
GROUP BY h.event_type
""")
def e_seasonal_anomalies_q(spark, sf):
    # Seasonal-baseline anomaly gate: per (type, hour-of-day) mean and
    # sample stddev; a reading 3 sigma off ITS OWN hour's baseline is
    # anomalous (catches what a global threshold misses when load has
    # daily shape). Baseline agg on the tiny (type, hod) key, broadcast
    # back.
    ev = _t(spark, sf, "events")
    hod = F.floor((epoch_seconds("ts") % 86400) / 3600)
    h = ev.select("event_type", hod.alias("hod"), "value")
    base = h.groupBy("event_type", "hod").agg(
        F.avg("value").alias("mu"),
        F.when(F.count("*") > 1, F.stddev_samp("value")).alias("sigma"))
    return (h.join(F.broadcast(base), ["event_type", "hod"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_rows"),
                 F.sum((F.col("sigma").isNotNull() & (F.col("sigma") > 0)
                        & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma")))
                       .cast("long")).alias("n_anomalies")))


def _pipeline_oracle() -> str:
    from clinpy_spark.operators.curate import GOPHER_STOPWORDS

    sl = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    ntok = ("len(string_split_regex(regexp_replace(lower(trim({c})), "
            "'\\s+', ' ', 'g'), ' '))")
    return rf"""
WITH m AS (
  SELECT doc_id, text,
    {ntok.format(c='text')} AS nt,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
    length(regexp_replace(text, '\s+', '', 'g')) AS n_nonws,
    (length(text) - length(replace(text, '#', ''))
       + 3 * len(regexp_extract_all(text, '\.\.\.'))) AS n_symbol,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        x -> list_contains([{sl}], x))) AS n_stop
  FROM documents),
g AS (
  SELECT doc_id, text, nt FROM m
  WHERE n_words >= 25 AND n_words <= 100000
    AND n_nonws >= 4 * n_words AND n_nonws <= 9 * n_words
    AND 10 * n_symbol < n_words AND n_stop >= 2),
d AS (
  SELECT doc_id, text, nt FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      ORDER BY doc_id) AS rk
    FROM g) WHERE rk = 1),
words AS (
  SELECT doc_id, string_split_regex(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM d),
pos AS (SELECT doc_id, w, unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos FROM words),
ch AS (SELECT doc_id, pos, array_to_string(w[(pos*10+1):(pos*10+10)], ' ') AS chunk FROM pos),
rkc AS (SELECT doc_id, pos, chunk,
               row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rk
        FROM ch),
clean AS (
  SELECT doc_id,
         coalesce(sum(CASE WHEN rk = 1 THEN len(string_split(chunk, ' ')) END), 0) AS cnt
  FROM rkc GROUP BY doc_id),
surv AS (SELECT doc_id, cnt FROM clean WHERE cnt > 0),
packed AS (
  SELECT CAST(floor((sum(cnt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - cnt)
              / 512.0) AS BIGINT) AS chunk_id, cnt
  FROM surv)
SELECT 'a_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens FROM m
UNION ALL SELECT 'b_gophered', count(*), CAST(sum(nt) AS BIGINT) FROM g
UNION ALL SELECT 'c_exact_dedup', count(*), CAST(sum(nt) AS BIGINT) FROM d
UNION ALL SELECT 'd_passage_dedup', count(*), CAST(sum(cnt) AS BIGINT) FROM surv
UNION ALL SELECT 'e_packed_512', count(DISTINCT chunk_id), CAST(sum(cnt) AS BIGINT) FROM packed
"""


@q("pipeline_curation_stats", _pipeline_oracle())
def pipeline_curation_stats_q(spark, sf):
    # END-TO-END curation pipeline in ONE declarative plan: Gopher
    # quality gates -> keep-first exact dedup -> corpus-global passage
    # dedup -> 512-token packing, with (stage, n_docs, n_tokens)
    # emitted at every stage. Every stage is an already-oracled
    # operator; this composes them and hash-checks the whole funnel —
    # the "can a user run their real pipeline on this" witness.
    from clinpy_spark.functions.text import fingerprint, norm_tokens
    from clinpy_spark.operators.curate import gopher_gates, gopher_metrics
    from clinpy_spark.operators.dedup import passage_dedup
    from clinpy_spark.session import ensure_min_parallelism

    docs = ensure_min_parallelism(_t(spark, sf, "documents"))
    nt = F.size(norm_tokens("text"))

    def stage(df, name, tok_col):
        return df.agg(F.lit(name).alias("stage"),
                      F.count("*").alias("n_docs"),
                      F.sum(tok_col).cast("long").alias("n_tokens"))

    m = gopher_metrics(docs).withColumn("__nt", nt)
    fails = None
    for _, cond in gopher_gates():
        fails = cond if fails is None else (fails | cond)
    g = m.filter(~fails).select("doc_id", "text", "__nt").localCheckpoint(eager=False)

    w = Window.partitionBy(fingerprint("text")).orderBy("doc_id")
    d = (g.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") == 1)
         .select("doc_id", "text", "__nt").localCheckpoint(eager=False))

    p = passage_dedup(d.select("doc_id", "text"), chunk_words=10)
    cleaned_nt = F.when(F.col("clean_text") == "", F.lit(0)) \
        .otherwise(F.size(norm_tokens("clean_text")))
    surv = (p.select("doc_id", cleaned_nt.alias("__cnt"))
            .filter(F.col("__cnt") > 0).localCheckpoint(eager=False))

    pw = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    packed = surv.select(
        F.floor((F.sum("__cnt").over(pw) - F.col("__cnt")) / 512.0).alias("__chunk"),
        "__cnt")

    return (
        stage(docs.select(nt.alias("__nt")), "a_raw", "__nt")
        .unionByName(stage(g, "b_gophered", "__nt"))
        .unionByName(stage(d, "c_exact_dedup", "__nt"))
        .unionByName(stage(surv, "d_passage_dedup", "__cnt"))
        .unionByName(packed.agg(
            F.lit("e_packed_512").alias("stage"),
            F.countDistinct("__chunk").alias("n_docs"),
            F.sum("__cnt").cast("long").alias("n_tokens")))
    )


@q("text_clean_stats", """
WITH aug AS (
  SELECT source,
         text || CASE WHEN doc_id % 5 = 0 THEN ' visit https://example.com/page now'
                      WHEN doc_id % 7 = 0 THEN ' mail bob@example.org <b>bold</b> end'
                      ELSE '' END AS t
  FROM documents),
c AS (
  SELECT source, t,
         len(regexp_extract_all(t, 'https?://[^ ]+')) AS n_urls,
         len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS n_emails,
         len(regexp_extract_all(t, '<[^>]+>')) AS n_tags,
         regexp_replace(regexp_replace(regexp_replace(t,
             'https?://[^ ]+', '', 'g'),
             '[a-z0-9._%+-]+@[a-z0-9.-]+', '', 'g'),
             '<[^>]+>', '', 'g') AS cleaned
  FROM aug)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_urls) AS BIGINT) AS n_urls,
       CAST(sum(n_emails) AS BIGINT) AS n_emails,
       CAST(sum(n_tags) AS BIGINT) AS n_tags,
       CAST(sum(length(t) - length(cleaned)) AS BIGINT) AS removed_chars
FROM c GROUP BY source
""")
def text_clean_stats_q(spark, sf):
    # Boilerplate/noise scrubbing stats (the html/url/email cleanup
    # stage of web-corpus curation): counts and removed-char volume per
    # source, over deterministically injected noise (the synthetic
    # corpus is clean, so the injection — same expression in both
    # engines — is what exercises the regex machinery). Pure
    # regexp_extract_all / regexp_replace codegen, one agg.
    docs = _t(spark, sf, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" visit https://example.com/page now"))
        .when(F.col("doc_id") % 7 == 0, F.lit(" mail bob@example.org <b>bold</b> end"))
        .otherwise(F.lit("")))
    url, email, tag = r"https?://[^ ]+", r"[a-z0-9._%+-]+@[a-z0-9.-]+", r"<[^>]+>"
    d = docs.select("source", aug.alias("t"))
    cleaned = F.regexp_replace(F.regexp_replace(F.regexp_replace(
        F.col("t"), url, ""), email, ""), tag, "")
    return (d.select(
                "source", "t",
                F.size(F.regexp_extract_all("t", F.lit(url), F.lit(0))).alias("n_urls"),
                F.size(F.regexp_extract_all("t", F.lit(email), F.lit(0))).alias("n_emails"),
                F.size(F.regexp_extract_all("t", F.lit(tag), F.lit(0))).alias("n_tags"),
                cleaned.alias("cleaned"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_urls").alias("n_urls"),
                 F.sum("n_emails").alias("n_emails"),
                 F.sum("n_tags").alias("n_tags"),
                 F.sum(F.length("t") - F.length("cleaned")).alias("removed_chars")))


@q("e_rolling_wau", """
WITH ud AS (SELECT DISTINCT user_id,
                   CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) AS BIGINT) AS d
            FROM events),
cal AS (SELECT DISTINCT d FROM ud),
w AS (
  SELECT c.d, count(DISTINCT u.user_id) AS wau
  FROM cal c JOIN ud u ON u.d BETWEEN c.d - 6 AND c.d
  GROUP BY c.d)
SELECT d AS day_index, CAST(wau AS BIGINT) AS wau FROM w
""")
def e_rolling_wau_q(spark, sf):
    # Rolling 7-day active users per day: each (user, day) activation
    # contributes to the 7 calendar days it keeps the user "active"
    # for (explode of a 7-element sequence — constant fan-out), then
    # one distinct-count per day. The explode form scales where a
    # per-day range self-join (the oracle's formulation) would
    # re-scan; both compute the identical grid.
    ev = _t(spark, sf, "events")
    day = F.floor(epoch_seconds("ts") / 86400)
    ud = ev.select("user_id", day.alias("d")).distinct()
    cal = ud.select("d").distinct()
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("day_index"))
    return (contrib.join(cal.withColumnRenamed("d", "day_index"), "day_index")
            .groupBy("day_index")
            .agg(F.countDistinct("user_id").alias("wau")))


@q("e_funnel_latency", """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1),
lat AS (
  SELECT s1.user_id,
         CAST(floor(epoch(t2)) AS BIGINT) - CAST(floor(epoch(t1)) AS BIGINT) AS view_to_click,
         CAST(floor(epoch(t3)) AS BIGINT) - CAST(floor(epoch(t2)) AS BIGINT) AS click_to_buy
  FROM s1 JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
SELECT CAST(count(*) AS BIGINT) AS n_clicked,
       CAST(count(click_to_buy) AS BIGINT) AS n_bought,
       round(quantile_cont(view_to_click, 0.5), 4) AS median_view_to_click_s,
       round(quantile_cont(click_to_buy, 0.5), 4) AS median_click_to_buy_s
FROM lat
""")
def e_funnel_latency_q(spark, sf):
    # Time-to-convert distribution on top of the ordered funnel
    # (operators/funnel.py): integer-second step latencies, exact
    # interpolated medians. Same chained-aggregation shape as
    # e_funnel_steps with one stats pass appended.
    from clinpy_spark.operators.funnel import funnel

    per = funnel(_t(spark, sf, "events"), ["view", "click", "purchase"])
    lat = (per.filter(F.col("step_2_ts").isNotNull())
           .select(
               (epoch_seconds("step_2_ts") - epoch_seconds("step_1_ts")).alias("v2c"),
               (epoch_seconds("step_3_ts") - epoch_seconds("step_2_ts")).alias("c2b")))
    return lat.agg(
        F.count("*").alias("n_clicked"),
        F.count("c2b").alias("n_bought"),
        F.round(F.expr("percentile(v2c, 0.5)"), 4).alias("median_view_to_click_s"),
        F.round(F.expr("percentile(c2b, 0.5)"), 4).alias("median_click_to_buy_s"))


def _lang_agreement_oracle() -> str:
    def score(lang: str) -> str:
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        return (
            f"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
            f"x -> list_contains([{words}], x)))"
        )

    s = {lang: score(lang) for lang in LANG_STOPWORDS}
    return f"""
SELECT declared, predicted, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT declared, CASE
    WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
    WHEN s_es >= s_fr THEN 'es'
    ELSE 'fr' END AS predicted
  FROM (
    SELECT lang AS declared, {s['de']} AS s_de, {s['en']} AS s_en,
           {s['es']} AS s_es, {s['fr']} AS s_fr
    FROM documents
  )
)
GROUP BY declared, predicted
"""


@q("text_lang_agreement", _lang_agreement_oracle())
def text_lang_agreement_q(spark, sf):
    # Language-ID confusion matrix: the stopword-vote argmax against
    # the declared lang column — the metadata-trust audit a curation
    # pipeline runs before keying mixtures on declared language. Same
    # codegen scorer plan as text_langid (explode + broadcast stopword
    # dim + conditional counts) with the declared label carried
    # through; matrix counts are hash-checked.
    from clinpy_spark.functions.text import tokens
    from clinpy_spark.session import ensure_min_parallelism

    d = ensure_min_parallelism(_t(spark, sf, "documents"))
    sw = spark.createDataFrame(
        [(lang, w) for lang, words in LANG_STOPWORDS.items() for w in words],
        "slang string, word string",
    )
    toks = d.select("doc_id", F.col("lang").alias("declared"),
                    F.explode(tokens("text")).alias("tok"))
    scores = (
        toks.join(F.broadcast(sw), toks.tok == sw.word, "left")
        .groupBy("doc_id", "declared")
        .agg(*[
            F.count(F.when(F.col("slang") == lang, 1)).alias(f"s_{lang}")
            for lang in sorted(LANG_STOPWORDS)
        ])
    )
    langs = sorted(LANG_STOPWORDS)
    best_lang, best_score = F.lit(langs[0]), F.col(f"s_{langs[0]}")
    for lang in langs[1:]:
        take = F.col(f"s_{lang}") > best_score
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, F.col(f"s_{lang}")).otherwise(best_score)
    predicted = F.when(best_score > 0, best_lang).otherwise(F.lit("und"))
    return (scores.select("declared", predicted.alias("predicted"))
            .groupBy("declared", "predicted").agg(F.count("*").alias("n")))


@q("sim_cluster_quality", """
WITH dim AS (
  SELECT vec_id, label, u.d AS d, embedding[u.d + 1]::DOUBLE AS v
  FROM embeddings, unnest(range(0, 64)) AS u(d)),
cent AS (SELECT label, d, avg(v) AS c FROM dim GROUP BY 1, 2),
gmean AS (SELECT d, avg(v) AS g FROM dim GROUP BY 1),
wss AS (SELECT sum((v - c) * (v - c)) AS w
        FROM dim JOIN cent USING (label, d)),
bss AS (SELECT sum(n_k * (c - g) * (c - g)) AS b
        FROM (SELECT label, d, c, (SELECT count(*) FROM embeddings e
                                   WHERE e.label = cent.label) AS n_k
              FROM cent) x JOIN gmean USING (d)),
consts AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(count(DISTINCT label) AS BIGINT) AS k FROM embeddings)
SELECT n, k,
       round((b / (k - 1)) / (w / (n - k)), 4) AS calinski_harabasz,
       round(b / (b + w), 6) AS explained_frac
FROM wss, bss, consts
""")
def sim_cluster_quality_q(spark, sf):
    # Clustering-quality metric over the labeled embeddings: the
    # Calinski-Harabasz variance-ratio (between-cluster SS / (k-1)) /
    # (within-cluster SS / (n-k)) — exact closed-form math, one
    # posexplode over dims, two small aggs, NO pairwise distances (the
    # silhouette trap at scale). Gates embedding-space health before
    # ANN indexing or SemDeDup.
    emb = _t(spark, sf, "embeddings")
    dim = emb.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"))
    cent = dim.groupBy("label", "d").agg(F.avg("v").alias("c"),
                                         F.count("*").alias("n_k"))
    gmean = dim.groupBy("d").agg(F.avg("v").alias("g"))
    wss = (dim.join(cent.select("label", "d", "c"), ["label", "d"])
           .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("w")))
    bss = (cent.join(gmean, "d")
           .agg(F.sum(F.col("n_k") * (F.col("c") - F.col("g")) * (F.col("c") - F.col("g"))).alias("b")))
    consts = emb.agg(F.count("*").alias("n"), F.countDistinct("label").alias("k"))
    return (wss.crossJoin(bss).crossJoin(F.broadcast(consts))
            .select(
                "n", "k",
                F.round((F.col("b") / (F.col("k") - 1)) / (F.col("w") / (F.col("n") - F.col("k"))), 4)
                .alias("calinski_harabasz"),
                F.round(F.col("b") / (F.col("b") + F.col("w")), 6).alias("explained_frac")))


@q("e_time_weighted_avg", """
WITH seq AS (
  SELECT user_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS t,
         lead(CAST(floor(epoch(ts)) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events),
seg AS (SELECT user_id, value, t_next - t AS dur FROM seq WHERE t_next IS NOT NULL)
SELECT user_id % 10 AS user_bucket,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(dur) AS BIGINT) AS total_seconds,
       round(sum(value * dur) / sum(dur), 6) AS time_weighted_avg
FROM seg GROUP BY 1
""")
def e_time_weighted_avg_q(spark, sf):
    # Time-weighted average (irregularly-sampled telemetry): each
    # reading holds until the next (step interpolation), so the mean
    # weights values by their holding duration — lead window per user,
    # one agg. Integer second durations keep the weight sums exact.
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = epoch_seconds("ts")
    seq = ev.select(
        "user_id", "value", t.alias("t"),
        F.lead(t).over(w).alias("t_next"))
    seg = (seq.filter(F.col("t_next").isNotNull())
           .withColumn("dur", F.col("t_next") - F.col("t")))
    return (seg.groupBy((F.col("user_id") % 10).alias("user_bucket"))
            .agg(F.count("*").alias("n_segments"),
                 F.sum("dur").alias("total_seconds"),
                 F.round(F.sum(F.col("value") * F.col("dur")) / F.sum("dur"), 6)
                 .alias("time_weighted_avg")))


@q("dedup_ppjoin_pairs", """
WITH ntoks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
shng AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
         ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN generate_series(1, len(tk) - 2)]
    END) AS s
  FROM ntoks
),
shsizes AS (SELECT doc_id, count(*) AS sz FROM shng GROUP BY doc_id),
shinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM shng a JOIN shng b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b, i::DOUBLE / (sa.sz + sb.sz - i) AS jac
  FROM shinter JOIN shsizes sa ON sa.doc_id = id_a
               JOIN shsizes sb ON sb.doc_id = id_b
  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.4)
SELECT id_a, id_b, round(jac, 4) AS jaccard FROM jpairs
""")
def dedup_ppjoin_pairs_q(spark, sf):
    # EXACT set-similarity join by prefix filtering (AllPairs/PPJoin,
    # Bayardo 2007): candidates come from an equi-join on each set's
    # rarest n - ceil(t*n) + 1 tokens under a global frequency order —
    # provably NO false negatives (unlike LSH), no n^2 cross join, no
    # blocking column needed. The oracle recomputes the full exact
    # all-pairs answer; matching it proves the prefix filter lossless
    # on this corpus.
    from clinpy_spark.operators.dedup import ppjoin_pairs

    return ppjoin_pairs(_t(spark, sf, "documents"), threshold=0.4)


@q("a16_market_basket", """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey % 50 AS item FROM lineitem),
n AS (SELECT CAST(count(DISTINCT l_orderkey) AS DOUBLE) AS n_baskets FROM b),
item_n AS (SELECT item, count(*) AS ni FROM b GROUP BY 1),
pairs AS (
  SELECT a.item AS item_a, c.item AS item_b, count(*) AS n_ab
  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.item < c.item
  GROUP BY 1, 2),
scored AS (
  SELECT item_a, item_b, n_ab,
         round(n_ab / n_baskets, 6) AS support,
         round(CAST(n_ab AS DOUBLE) / ia.ni, 6) AS confidence,
         round(n_ab * n_baskets / (CAST(ia.ni AS DOUBLE) * ib.ni), 6) AS lift
  FROM pairs
  JOIN item_n ia ON ia.item = item_a
  JOIN item_n ib ON ib.item = item_b, n
  WHERE n_ab >= 20)
SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab, support, confidence, lift
FROM scored
""")
def a16_market_basket_q(spark, sf):
    # Association-rule mining (market basket): co-occurrence of item
    # classes within an order -> support / confidence / lift with a
    # min-support cut. The pair space is a self-join CO-PARTITIONED on
    # the basket key (pairs bounded by basket size squared, never
    # corpus squared); item marginals broadcast back. Items are
    # partkey classes so the pair space stays dense enough to score.
    li = _t(spark, sf, "lineitem")
    # ONE groupBy builds each basket's sorted distinct-item array; the
    # basket-key SELF-JOIN it replaces shuffled the (orderkey, item)
    # table twice and materialized ~2.4M joined rows at sf0.1 before
    # the pair aggregate (guide §2.4: the pair expansion is per-basket
    # map-side work over a <=50-item array, so explode-from-array needs
    # no join at all and the pair aggregate gets map-side partials).
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set(F.col("l_partkey") % 50))
             .alias("items"))
        # three readers (basket count, item marginals, pair explode) —
        # materialize once; one row per order, array <= 50 items
        .localCheckpoint(eager=False)
    )
    n_baskets = baskets.agg(F.count(F.lit(1)).cast("double").alias("nb"))
    item_n = (baskets.select(F.explode("items").alias("item"))
              .groupBy("item").agg(F.count("*").alias("ni")))
    arr = F.col("items")
    sz = F.size(arr)
    pair_structs = F.flatten(F.transform(
        F.sequence(F.lit(1), sz - 1),
        lambda i: F.transform(
            F.sequence(i + 1, sz),
            lambda j: F.struct(
                F.element_at(arr, i).alias("item_a"),
                F.element_at(arr, j).alias("item_b")))))
    pairs = (baskets.filter(sz >= 2)
             .select(F.explode(pair_structs).alias("p"))
             .select("p.item_a", "p.item_b")
             .groupBy("item_a", "item_b").agg(F.count("*").alias("n_ab"))
             .filter(F.col("n_ab") >= 20))
    ia = item_n.toDF("item_a", "ni_a")
    ib = item_n.toDF("item_b", "ni_b")
    return (pairs.join(F.broadcast(ia), "item_a").join(F.broadcast(ib), "item_b")
            .crossJoin(F.broadcast(n_baskets))
            .select(
                "item_a", "item_b", F.col("n_ab").cast("long").alias("n_ab"),
                F.round(F.col("n_ab") / F.col("nb").cast("double"), 6).alias("support"),
                F.round(F.col("n_ab").cast("double") / F.col("ni_a"), 6).alias("confidence"),
                F.round(F.col("n_ab") * F.col("nb").cast("double")
                        / (F.col("ni_a").cast("double") * F.col("ni_b")), 6).alias("lift")))


@q("s22_winsorize", """
WITH q AS (SELECT event_type,
                  quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
           FROM events GROUP BY 1)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       round(min(lo), 6) AS p05, round(min(hi), 6) AS p95,
       round(avg(CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END), 6) AS mean_winsorized
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
""")
def s22_winsorize_q(spark, sf):
    # Winsorization (operators/quality.py pattern family): clip each
    # group's values at its exact p05/p95 — the outlier-robust
    # normalization a feature pipeline applies before scaling. One
    # percentile agg on the small group key, bounds broadcast back.
    ev = _t(spark, sf, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"))
    j = ev.join(F.broadcast(q), "event_type")
    clipped = F.when(F.col("value") < F.col("lo"), F.col("lo")) \
        .when(F.col("value") > F.col("hi"), F.col("hi")).otherwise(F.col("value"))
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
              .cast("long")).alias("n_clipped"),
        F.round(F.min("lo"), 6).alias("p05"),
        F.round(F.min("hi"), 6).alias("p95"),
        F.round(F.avg(clipped), 6).alias("mean_winsorized"))


@q("q_k_anonymity", """
WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
           FROM customer GROUP BY 1, 2)
SELECT 5 AS k, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
       CAST(min(n) AS BIGINT) AS min_group_size,
       min(n) >= 5 AS passed
FROM g
""")
def q_k_anonymity_q(spark, sf):
    # Pre-release governance gate (operators/quality.py): k-anonymity
    # over the (nation, segment) quasi-identifier — every equivalence
    # class must hold >= k rows; the report counts violating classes
    # and rows at risk. One groupBy + one rollup.
    from clinpy_spark.operators.quality import k_anonymity_report

    return k_anonymity_report(_t(spark, sf, "customer"),
                              ["c_nationkey", "c_mktsegment"], k=5)


@q("q_dp_counts", """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS true_count,
       round(count(*)
             - sign(('0x' || substr(md5(c_mktsegment || ':42'), 1, 8))::BIGINT / 4294967296.0 - 0.5)
               * ln(1.0 - 2.0 * abs(('0x' || substr(md5(c_mktsegment || ':42'), 1, 8))::BIGINT / 4294967296.0 - 0.5))
               / 0.5, 4) AS noisy_count
FROM customer GROUP BY c_mktsegment
""")
def q_dp_counts_q(spark, sf):
    # Laplace-mechanism count release (operators/quality.py): per-group
    # count + Laplace(1/eps) noise by inverse CDF over the portable md5
    # coordinate — deterministic here so the oracle recomputes the
    # release exactly (production swaps in a real RNG; mechanism,
    # sensitivity and noise shape are identical). eps = 0.5.
    from clinpy_spark.operators.quality import laplace_noisy_counts

    return laplace_noisy_counts(_t(spark, sf, "customer"), "c_mktsegment",
                                epsilon=0.5, seed=42)


@q("s21_snapshot_diff", """
WITH oldv AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 10 <> 3),
newv AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
         CASE WHEN o_orderkey % 11 = 0 THEN 'X-CHANGED' ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 10 <> 7),
j AS (
  SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority) THEN 'update'
         END AS change,
         CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
              THEN list_sort(list_filter(
                     [CASE WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'o_totalprice' END,
                      CASE WHEN o.o_orderpriority IS DISTINCT FROM n.o_orderpriority THEN 'o_orderpriority' END],
                     x -> x IS NOT NULL))
              ELSE [] END AS cc
  FROM oldv o FULL JOIN newv n ON o.o_orderkey = n.o_orderkey)
SELECT change, coalesce(array_to_string(cc, ','), '') AS changed,
       CAST(count(*) AS BIGINT) AS n
FROM j WHERE change IS NOT NULL GROUP BY 1, 2
""")
def s21_snapshot_diff_q(spark, sf):
    # Change-data feed between two snapshots (operators/merge.py
    # snapshot_diff): one full-outer join on the key, null-safe column
    # comparisons, per-(change, changed-column-set) counts. Deterministic
    # synthetic drift: %10 filters simulate inserts/deletes, +1.0 price
    # and priority recodes simulate updates.
    from clinpy_spark.operators.merge import snapshot_diff

    orders = _t(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    oldv = orders.filter(F.col("o_orderkey") % 10 != 3)
    newv = (orders.filter(F.col("o_orderkey") % 10 != 7)
            .withColumn("o_totalprice",
                        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0)
                        .otherwise(F.col("o_totalprice")))
            .withColumn("o_orderpriority",
                        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X-CHANGED"))
                        .otherwise(F.col("o_orderpriority"))))
    d = snapshot_diff(oldv, newv, keys=["o_orderkey"])
    return (d.groupBy("change", F.concat_ws(",", "changed_cols").alias("changed"))
            .agg(F.count("*").alias("n")))


@q("e_attribution_last_touch", """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events)
SELECT coalesce(touch, 'none') AS touch_type,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(value), 2) AS attributed_value
FROM seq WHERE event_type = 'purchase'
GROUP BY 1
""")
def e_attribution_last_touch_q(spark, sf):
    # Last-touch attribution: each purchase credits the user's most
    # recent preceding non-purchase event (IGNORE NULLS frame-bounded
    # last_value — one window shuffle on user). The product-analytics
    # closer next to funnel/retention/transitions.
    ev = _t(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    touch = F.last(F.when(F.col("event_type") != "purchase", F.col("event_type")),
                   ignorenulls=True).over(w)
    return (ev.withColumn("touch", touch)
            .filter(F.col("event_type") == "purchase")
            .groupBy(F.coalesce("touch", F.lit("none")).alias("touch_type"))
            .agg(F.count("*").alias("n_purchases"),
                 F.round(F.sum("value"), 2).alias("attributed_value")))


@q("text_zipf_slope", """
WITH tok AS (
  SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents),
fr AS (SELECT t, count(*) AS f FROM tok GROUP BY t),
rk AS (SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM fr),
xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y FROM rk WHERE r <= 100),
s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM xy)
SELECT CAST(n AS BIGINT) AS n_ranks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
FROM s
""")
def text_zipf_slope_q(spark, sf):
    # Zipf's-law fit: regress ln(freq) on ln(rank) over the top-100
    # vocabulary (rank ties broken by token for determinism) via the
    # same closed-form trend operator as e_regression_trend — a corpus
    # health check (natural corpora slope ~ -1; synthetic/templated
    # text flattens).
    from clinpy_spark.functions.text import norm_tokens
    from clinpy_spark.operators.quality import group_trends

    docs = _t(spark, sf, "documents")
    fr = (docs.select(F.explode(norm_tokens("text")).alias("t"))
          .groupBy("t").agg(F.count("*").alias("f")))
    # distributed top-k (TakeOrderedAndProject), THEN rank the 100
    # survivors — never a global sort of the whole vocabulary
    top = fr.orderBy(F.desc("f"), F.asc("t")).limit(100)
    w = Window.orderBy(F.desc("f"), F.asc("t"))
    xy = (top.withColumn("r", F.row_number().over(w))
          .select(F.lit("all").alias("g"),
                  F.log(F.col("r").cast("double")).alias("x"),
                  F.log(F.col("f").cast("double")).alias("y")))
    out = group_trends(xy, "x", "y", "g")
    return out.select(
        F.col("n").alias("n_ranks"),
        F.round("slope", 6).alias("zipf_slope"),
        F.round("corr", 6).alias("corr"))


@q("e_transition_matrix", """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events),
c AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT event_type, next_type, n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6) AS p
FROM c
""")
def e_transition_matrix_q(spark, sf):
    # First-order Markov transition matrix over per-user event
    # sequences: lead window (deterministic ts, event_id tie-break),
    # pair counts, row-normalized probabilities — the "what happens
    # next" analytics primitive. One window shuffle on user, one agg.
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lead("event_type").over(w).alias("next_type"))
    c = (seq.filter(F.col("next_type").isNotNull())
         .groupBy("event_type", "next_type").agg(F.count("*").alias("n")))
    tot = Window.partitionBy("event_type")
    return c.select(
        "event_type", "next_type", "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(tot), 6).alias("p"))


@q("j20_bloom_pruned_join", f"""
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       {DSUM('o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey = 5
GROUP BY c_mktsegment
""")
def j20_bloom_pruned_join_q(spark, sf):
    # Explicit Bloom semi-join pushdown (operators/skew.py): the
    # selective customer side (one nation) builds a broadcast bit
    # table; orders rows are pruned MAP-SIDE by k broadcast left-semi
    # joins before any shuffle, then the real join runs on survivors.
    # Oracle = the PLAIN join (no bloom): false positives are dropped
    # by the join, so the pushdown is hash-provably transparent.
    from clinpy_spark.operators.skew import bloom_pruned_join

    orders = _t(spark, sf, "orders")
    cust = (_t(spark, sf, "customer").filter(F.col("c_nationkey") == 5)
            .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment"))
    joined = bloom_pruned_join(orders, cust, on="o_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"), dsum(F.col("o_totalprice")).alias("revenue"))


@q("s20_impute_median", """
WITH masked AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events),
med AS (SELECT event_type, quantile_cont(v, 0.5) AS gmed
        FROM masked WHERE v IS NOT NULL GROUP BY 1)
SELECT m.event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN m.v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
       round(min(gmed), 6) AS fill_value,
       round(avg(coalesce(m.v, gmed)), 6) AS mean_after
FROM masked m JOIN med USING (event_type)
GROUP BY m.event_type
""")
def s20_impute_median_q(spark, sf):
    # Null repair (operators/quality.py impute_median): deterministic
    # mask (event_id % 7) simulates missing values; per-type exact
    # interpolated medians broadcast back to fill them. Audit columns
    # (n_imputed, fill_value, post-fill mean) are hash-checked.
    from clinpy_spark.operators.quality import impute_median

    ev = _t(spark, sf, "events").withColumn(
        "value", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value")))
    out = impute_median(ev, "value", "event_type")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("__was_null").cast("long")).alias("n_imputed"),
        F.round(F.min(F.when(F.col("__was_null"), F.col("value"))), 6).alias("fill_value"),
        F.round(F.avg("value"), 6).alias("mean_after"))


@q("text_kmv_overlap", f"""
WITH sh AS (
  SELECT d.source, array_to_string(b.w[(u.p+1):(u.p+3)], ' ') AS s
  FROM ({_SHINGLE_SQL}) b JOIN documents d USING (doc_id),
       unnest(range(0, greatest(len(b.w) - 2, 0))) AS u(p)
  WHERE d.source IN ('src0', 'src1') AND len(b.w) >= 3
  UNION ALL
  SELECT d.source, array_to_string(b.w, ' ')
  FROM ({_SHINGLE_SQL}) b JOIN documents d USING (doc_id)
  WHERE d.source IN ('src0', 'src1') AND len(b.w) < 3
),
h AS (SELECT DISTINCT source, ('0x' || substr(md5(s || '|kmv'), 1, 8))::BIGINT AS hv
      FROM (SELECT DISTINCT source, s FROM sh)),
rk AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rk FROM h),
ka AS (SELECT list_sort(list(hv)) AS ha FROM rk WHERE source = 'src0' AND rk <= 256),
kb AS (SELECT list_sort(list(hv)) AS hb FROM rk WHERE source = 'src1' AND rk <= 256),
m AS (
  SELECT ha, hb,
         list_sort(list_distinct(ha || hb))[1:256] AS merged,
         list_intersect(ha, hb) AS bt
  FROM ka, kb)
SELECT
  round(CASE WHEN len(ha) < 256 THEN CAST(len(ha) AS DOUBLE)
             ELSE 255.0 / (CAST(ha[256] AS DOUBLE) / 4294967296.0) END, 4) AS n_a_est,
  round(CASE WHEN len(hb) < 256 THEN CAST(len(hb) AS DOUBLE)
             ELSE 255.0 / (CAST(hb[256] AS DOUBLE) / 4294967296.0) END, 4) AS n_b_est,
  round(CASE WHEN len(merged) < 256 THEN CAST(len(merged) AS DOUBLE)
             ELSE 255.0 / (CAST(merged[len(merged)] AS DOUBLE) / 4294967296.0) END, 4) AS union_est,
  round(CAST(len(list_intersect(merged, bt)) AS DOUBLE) / len(merged), 6) AS jaccard_est,
  round((CAST(len(list_intersect(merged, bt)) AS DOUBLE) / len(merged))
        * (CASE WHEN len(merged) < 256 THEN CAST(len(merged) AS DOUBLE)
                ELSE 255.0 / (CAST(merged[len(merged)] AS DOUBLE) / 4294967296.0) END), 4) AS intersect_est
FROM m
""")
def text_kmv_overlap_q(spark, sf):
    # KMV distinct sketch (Beyer et al. 2007, operators/sketch.py):
    # per-source k=256 smallest md5 coordinates of the distinct 3-gram
    # shingle sets, then distinct-count / union / Jaccard / intersection
    # ESTIMATES from pure array math on the two sketches. Portable
    # hashing makes the whole pipeline deterministic — the oracle
    # recomputes every hash, rank, and estimate exactly (hash-checked
    # sketch, like CMS/Bloom; unlike the HLL gate). At 100 TB each
    # group ships k longs between stages, not its vocabulary.
    from clinpy_spark.functions.text import shingles
    from clinpy_spark.operators.sketch import (
        kmv_distinct_estimate, kmv_sketch, kmv_union_jaccard,
    )

    docs = _t(spark, sf, "documents").filter(F.col("source").isin("src0", "src1"))
    sh = docs.select("source", F.explode(shingles("text", 3)).alias("s"))
    sk = kmv_sketch(sh, "s", "source", k=256)
    est = kmv_distinct_estimate(sk, k=256)
    # limit(1): one row per group key by construction — encodes the
    # bound in the plan for the shape audit's cross-join check.
    a_est = est.filter(F.col("source") == "src0").select(
        F.round("n_distinct_est", 4).alias("n_a_est")).limit(1)
    b_est = est.filter(F.col("source") == "src1").select(
        F.round("n_distinct_est", 4).alias("n_b_est")).limit(1)
    uj = kmv_union_jaccard(
        sk.filter(F.col("source") == "src0"),
        sk.filter(F.col("source") == "src1"), k=256)
    return a_est.crossJoin(b_est).crossJoin(uj)


@q("q_constraint_suite", """
SELECT 'custkey_complete' AS check_name,
       round(CAST(count(o_custkey) AS DOUBLE) / count(*), 6) AS metric,
       CAST(count(o_custkey) AS DOUBLE) / count(*) >= 1.0 AS passed
FROM orders
UNION ALL
SELECT 'orderkey_unique',
       round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6),
       CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*) >= 1.0
FROM orders
UNION ALL
SELECT 'priority_format',
       round(CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6),
       CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.99
FROM orders
UNION ALL
SELECT 'qty_in_1_50',
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS DOUBLE),
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'qty_in_1_40',
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 ELSE 0 END) AS DOUBLE),
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 40 THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'orderkey_fk',
       CAST((SELECT count(*) FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
             ON l.l_orderkey = o.o_orderkey
             WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) AS DOUBLE),
       (SELECT count(*) FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
        WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) = 0
""")
def q_constraint_suite_q(spark, sf):
    # Deequ-style declarative validation (operators/quality.py): six
    # named checks over orders/lineitem — all row-local checks fuse
    # into ONE aggregation pass per table (map-side partials), the fk
    # check is one anti-join against the broadcastable key set. The
    # qty_in_1_40 check intentionally FAILS so the suite proves it
    # reports violations (metric = violation count), not just green.
    from clinpy_spark.operators.quality import check_suite

    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    a = check_suite(orders, [
        {"name": "custkey_complete", "check": "completeness", "col": "o_custkey"},
        {"name": "orderkey_unique", "check": "uniqueness", "col": "o_orderkey"},
        {"name": "priority_format", "check": "pattern", "col": "o_orderpriority",
         "regex": "^[1-5]-", "min_frac": 0.99},
    ])
    b = check_suite(li, [
        {"name": "qty_in_1_50", "check": "range", "col": "l_quantity", "lo": 1, "hi": 50},
        {"name": "qty_in_1_40", "check": "range", "col": "l_quantity", "lo": 1, "hi": 40},
        {"name": "orderkey_fk", "check": "fk", "col": "l_orderkey",
         "ref": orders, "ref_col": "o_orderkey"},
    ])
    return a.unionByName(b)


@q("e_regression_trend", """
WITH d AS (
  SELECT event_type,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) - 19723 AS DOUBLE) AS x,
         value AS y
  FROM events),
s AS (
  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy,
         sum(x * y) AS sxy
  FROM d GROUP BY 1)
SELECT event_type, CAST(n AS BIGINT) AS n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
       round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr
FROM s
""")
def e_regression_trend_q(spark, sf):
    # Per-type least-squares trend of event value over day index
    # (operators/quality.py group_trends): closed-form sufficient
    # statistics in ONE aggregation pass — no ML library, exactly
    # recomputable in SQL. x is the small integer day offset so the
    # x-moment sums are integer-exact in any summation order.
    from clinpy_spark.operators.quality import group_trends

    ev = _t(spark, sf, "events")
    day = (F.floor(epoch_seconds("ts") / 86400) - 19723).cast("double")
    out = group_trends(ev.select("event_type", day.alias("x"), F.col("value").alias("y")),
                       "x", "y", "event_type")
    return out.select(
        "event_type", "n", F.round("slope", 6).alias("slope"),
        F.round("intercept", 6).alias("intercept"), F.round("corr", 6).alias("corr"))


def _boot_sql() -> str:
    from clinpy_spark.operators.sample import poisson1_hex_thresholds

    m_expr = " + ".join(
        f"CASE WHEN h >= '{t}' THEN 1 ELSE 0 END" for t in poisson1_hex_thresholds())
    return f"""
WITH reps AS (
  SELECT r, n_chars,
         substr(md5(doc_id || ':' || r || ':42'), 1, 8) AS h
  FROM documents, unnest(range(1, 201)) AS u(r)
),
m AS (SELECT r, n_chars, ({m_expr}) AS m FROM reps),
means AS (SELECT r, CAST(sum(m * n_chars) AS DOUBLE) / sum(m) AS mean FROM m GROUP BY r),
pt AS (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) AS p FROM documents)
SELECT CAST(count(*) AS INTEGER) AS n_replicates, round(min(p), 6) AS point_mean,
       round(quantile_cont(mean, 0.025), 6) AS ci_lo,
       round(quantile_cont(mean, 0.975), 6) AS ci_hi
FROM means, pt
"""


@q("s19_bootstrap_ci", _boot_sql())
def s19_bootstrap_ci_q(spark, sf):
    # Deterministic Poisson bootstrap (operators/sample.py): 200
    # resampling replicates whose per-(row, replicate) multiplicities
    # come from the portable md5 hex coordinate — every draw is
    # recomputed identically by the oracle, so the CI itself is
    # hash-checked, not just gated. Map-side partial agg keeps the
    # shuffle at partitions x R rows.
    from clinpy_spark.operators.sample import bootstrap_mean_ci

    return bootstrap_mean_ci(_t(spark, sf, "documents"), "n_chars",
                             n_replicates=200, seed=42)


@q("sim_hard_negatives", """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS mid, embedding::DOUBLE[] AS cv FROM embeddings),
s AS (
  SELECT qid AS query_id, mid AS match_id, list_cosine_similarity(qv, cv) AS sim
  FROM q, c WHERE qid <> mid
),
r AS (
  SELECT query_id, match_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, match_id) AS rk
  FROM s
)
SELECT query_id, match_id, CAST(rk AS INTEGER) AS rank, round(sim, 4) AS cosine_sim
FROM r WHERE rk > 5 AND rk <= 15
""")
def sim_hard_negatives_q(spark, sf):
    # Hard-negative mining for contrastive training: per query the
    # vectors ranked 6..15 by exact cosine (just below the positive
    # top-5, deterministic tie-break) — the rank-window definition is
    # exact and fully oracled; at scale the scorer swaps for an ANN
    # shortlist with the identical window.
    from clinpy_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf, "embeddings")
    # limit(10): plan-level probe bound (row-wise no-op, ids unique)
    return hard_negatives(
        emb.filter(F.col("vec_id") < 10).limit(10), emb, k=5, n_negatives=10)


@q("sim_pca_gate", """
SELECT 8 AS n_components, true AS ve_passed, true AS identity_passed,
       true AS whiten_passed
""")
def sim_pca_gate_q(spark, sf):
    # PCA/whitening contract (operators/pca.py): top-8 of 64 dims must
    # explain >= 0.15 of variance (measured 0.205 at sf0.01 — the
    # synthetic embeddings are label-structured, iid noise would give
    # 0.125); the PCA identity mse_ratio == 1 - variance_explained must
    # hold to 1e-9; whitened components must have unit variance within
    # 1%. Fit = ONE distributed moments pass (d + d^2 partials per
    # partition), apply = shuffle-free Arrow GEMM; the gate's var_pop
    # check runs distributed over the projected output.
    from clinpy_spark.operators.pca import fit_pca, pca_project, pca_variance_report

    emb = _t(spark, sf, "embeddings")
    ve, mse = pca_variance_report(emb, n_components=8)
    mean, comps, vals = fit_pca(emb, n_components=8)
    proj = pca_project(emb, mean, comps, eigvals=vals, whiten=True)
    worst = (
        proj.select(F.posexplode("projected").alias("__d", "__v"))
        .groupBy("__d").agg(F.var_pop("__v").alias("__var"))
        .agg(F.max(F.abs(F.col("__var") - 1.0)).alias("__w"))
        .collect()[0]["__w"]
    )
    return spark.range(1).select(
        F.lit(8).alias("n_components"),
        F.lit(bool(ve >= 0.15)).alias("ve_passed"),
        F.lit(bool(abs(mse - (1.0 - ve)) < 1e-9)).alias("identity_passed"),
        F.lit(bool(worst < 0.01)).alias("whiten_passed"),
    )


@q("mm_extract_features", """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 4 < 3 THEN 'image' ELSE 'audio' END AS media_type,
       CAST(CASE WHEN doc_id % 4 < 3 THEN 4 + doc_id % 5
                 ELSE 50 + doc_id % 50 END AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 4 < 3 THEN 3 + doc_id % 4
                 ELSE 1 + doc_id % 2 END AS BIGINT) AS height,
       CASE WHEN doc_id % 4 < 3 THEN (doc_id % 256) / 255.0
            ELSE (512 * (doc_id % 50)) / 32768.0 END AS mean_intensity
FROM documents WHERE doc_id < 200
""")
def mm_extract_features_q(spark, sf):
    # Multimodal decode, ORACLE-CHECKED end-to-end: deterministic PPM /
    # BMP / PNG / WAV payloads are synthesized from doc_id on the
    # executors, then decoded by the REAL pure-numpy codecs (operators/
    # multimodal — PNG through stdlib zlib inflate + unfilter); DuckDB
    # recomputes the expected (dims, mean intensity) by formula.
    # A codec bug (wrong row padding, BGR order, filter math, sample
    # scaling...) flips the decoded values and the hash mismatches. All
    # chosen values are exactly representable doubles (fill/255 and
    # dyadic a/32768), so no rounding is needed on either side.
    media = _synth_media(_t(spark, sf, "documents").filter(F.col("doc_id") < 200))
    return extract_features(media).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


def _synth_media(docs: DataFrame) -> DataFrame:
    """Deterministic media payloads from doc_id, built on the executors:
    doc_id % 4 picks PPM / BMP / PNG / WAV; dims, fill, and amplitude
    are doc_id arithmetic so an oracle can predict the decoded features.
    Constant fill keeps the mean invariant under nearest-neighbor
    resampling (what lets mm_resize oracle the resize round-trip). PNG
    is emitted at zlib level 0 (stored blocks) so its byte length is
    also formula-predictable for the frame_sample oracle."""
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.multimodal import encode_bmp, encode_png, encode_wav

    def _synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 4
                if kind < 3:
                    w, h, fill = 4 + did % 5, 3 + did % 4, did % 256
                    px = np.full((h, w, 3), fill, dtype=np.uint8)
                    payload = (
                        b"P6\n%d %d\n255\n" % (w, h) + px.tobytes() if kind == 0
                        else encode_bmp(px) if kind == 1
                        else encode_png(px, level=0)
                    )
                    rows.append((did, "image", payload))
                else:
                    n, ch, a = 50 + did % 50, 1 + did % 2, 512 * (did % 50)
                    rows.append((did, "audio",
                                 encode_wav(np.full((n, ch), a, dtype=np.int16))))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "payload"])

    # Spread the single-file doc-id scan first: the pure-Python codec
    # work below otherwise runs in ONE task (ensure_min_parallelism is
    # a no-op on real multi-file tables).
    from clinpy_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id long, media_type string, payload binary"
    )


@q("mm_frame_sample", """
WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 < 3 THEN 'image' ELSE 'audio' END AS media_type,
    CASE doc_id % 4
      WHEN 0 THEN 11 + 3 * (4 + doc_id % 5) * (3 + doc_id % 4)
      WHEN 1 THEN 54 + (3 + doc_id % 4) * (((3 * (4 + doc_id % 5) + 3) // 4) * 4)
      WHEN 2 THEN 68 + (3 + doc_id % 4) * (3 * (4 + doc_id % 5) + 1)
      ELSE 44 + (50 + doc_id % 50) * (1 + doc_id % 2) * 2
    END AS n
  FROM documents WHERE doc_id < 200)
SELECT doc_id AS media_id, media_type,
       unnest([CAST(64 * k AS BIGINT) FOR k IN range(0, 8) IF 64 * k <= n - 1])
         AS frame_offset
FROM m
""")
def mm_frame_sample_q(spark, sf):
    # Frame-offset sampling over the synthesized media, ORACLE-CHECKED:
    # the payload byte length of each PPM/BMP/PNG/WAV item is exactly
    # predictable from doc_id (header size + row padding / stored-block
    # zlib overhead / sample bytes), so DuckDB recomputes the emitted
    # offset list — which verifies both the relational sequence/explode
    # shape AND the encoders' byte-exact output sizes (PNG: 8 sig +
    # 25 IHDR + 12 IEND + 12 IDAT framing + 11 stored-deflate overhead
    # + h*(1+3w) raw scanlines = 68 + h*(3w+1)).
    media = _synth_media(_t(spark, sf, "documents").filter(F.col("doc_id") < 200))
    return frame_sample(media, every_n_bytes=64)


@q("mm_resize", """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 4 < 3 THEN 'image' ELSE 'audio' END AS media_type,
       CAST(6 AS BIGINT) AS width,
       CAST(CASE WHEN doc_id % 4 < 3 THEN 5 ELSE 1 + doc_id % 2 END AS BIGINT) AS height,
       CASE WHEN doc_id % 4 < 3 THEN (doc_id % 256) / 255.0
            ELSE (512 * (doc_id % 50)) / 32768.0 END AS mean_intensity
FROM documents WHERE doc_id < 200
""")
def mm_resize_q(spark, sf):
    # Resize/resample, ORACLE-CHECKED end-to-end through a decode
    # round-trip: synthesized PPM/BMP/PNG/WAV payloads -> REAL nearest-
    # neighbor resize (images to 6x5, audio resampled to 6 frames) ->
    # re-decode of the re-emitted payloads (PNG re-encodes via
    # encode_png and re-inflates on the second decode). Constant-fill
    # inputs keep their mean through resampling, so DuckDB predicts the
    # features of the RESIZED media exactly; a resize bug (wrong
    # padding, scale, layout, filter math) changes dims or mean and the
    # hash mismatches.
    from clinpy_spark.operators.multimodal import extract_features, resize

    media = _synth_media(_t(spark, sf, "documents").filter(F.col("doc_id") < 200))
    return extract_features(resize(media, width=6, height=5)).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@q("mm_jpeg_features", """
SELECT doc_id AS media_id, stage,
       CAST(CASE stage WHEN 'orig' THEN 9 + doc_id % 8 ELSE 7 END AS BIGINT) AS width,
       CAST(CASE stage WHEN 'orig' THEN 8 + doc_id % 5 ELSE 6 END AS BIGINT) AS height,
       (doc_id % 256) / 255.0 AS mean_intensity
FROM documents CROSS JOIN (SELECT unnest(['orig', 'resized']) AS stage)
WHERE doc_id < 150
""")
def mm_jpeg_features_q(spark, sf):
    # Baseline JPEG, ORACLE-CHECKED end-to-end through BOTH directions
    # of the codec (operators/jpeg.py — Annex K Huffman + DCT + YCbCr in
    # pure numpy): constant-fill JFIF payloads (with restart markers,
    # multi-MCU dims) are synthesized from doc_id on executors, decoded
    # ('orig' stage), then nearest-neighbor resized to 7x6 with a JPEG
    # re-encode and re-decoded ('resized' stage). Constant fill is the
    # one signal class a LOSSY codec reproduces exactly (DC-only blocks
    # survive quantization), so DuckDB predicts dims and mean by formula
    # and any bug in the entropy coder, DCT, color transform, or marker
    # framing flips the hash.
    from clinpy_spark.operators.multimodal import extract_features, resize

    media = _synth_jpeg(_t(spark, sf, "documents").filter(F.col("doc_id") < 150))
    orig = extract_features(media).withColumn("stage", F.lit("orig"))
    rez = extract_features(resize(media, width=7, height=6)).withColumn(
        "stage", F.lit("resized"))
    return orig.unionByName(rez).select(
        "media_id", "stage", "width", "height", "mean_intensity"
    )


def _synth_jpeg(docs: DataFrame) -> DataFrame:
    """Deterministic constant-fill JPEG payloads from doc_id (dims span
    multiple MCUs, restart_interval=2 exercises the RST resync path)."""
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.jpeg import encode_jpeg

    def _synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, fill = 9 + did % 8, 8 + did % 5, did % 256
                px = np.full((h, w, 3), fill, dtype=np.uint8)
                rows.append((did, "image", encode_jpeg(px, quality=92, restart_interval=2)))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "payload"])

    # Spread the single-file doc-id scan first: the pure-Python codec
    # work below otherwise runs in ONE task (ensure_min_parallelism is
    # a no-op on real multi-file tables).
    from clinpy_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id long, media_type string, payload binary"
    )


@q("mm_flac_features", """
WITH d AS (
  SELECT doc_id, 100 + doc_id % 100 AS n, 1 + doc_id % 2 AS ch
  FROM documents WHERE doc_id < 150),
s1 AS (SELECT doc_id, n, ch, unnest(range(n)) AS i FROM d),
samp AS (SELECT doc_id, n, ch, i, unnest(range(ch)) AS c FROM s1),
orig AS (
  SELECT doc_id, 'orig' AS stage, n AS width, ch AS height,
         avg(CAST((doc_id * 31 + i * 7 + c * 13) % 1000 AS DOUBLE)) / 32768.0
           AS mean_intensity
  FROM samp GROUP BY doc_id, n, ch),
k1 AS (SELECT doc_id, n, ch, unnest(range(6)) AS k FROM d),
ksamp AS (SELECT doc_id, n, ch, (k * n) // 6 AS i, unnest(range(ch)) AS c FROM k1),
rez AS (
  SELECT doc_id, 'resized' AS stage, CAST(6 AS BIGINT) AS width, ch AS height,
         avg(CAST((doc_id * 31 + i * 7 + c * 13) % 1000 AS DOUBLE)) / 32768.0
           AS mean_intensity
  FROM ksamp GROUP BY doc_id, ch)
SELECT doc_id AS media_id, stage, CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height, mean_intensity
FROM (SELECT * FROM orig UNION ALL SELECT * FROM rez)
""")
def mm_flac_features_q(spark, sf):
    # FLAC, ORACLE-CHECKED sample-by-sample: deterministic RAMP payloads
    # (x[i,c] = (doc_id*31 + i*7 + c*13) % 1000) are verbatim-encoded on
    # executors at blocksize 64 (multi-frame streams, UTF-8 frame
    # numbering in play), decoded by the real bit-reader
    # (operators/flac.py), featurized, then nearest-neighbor resampled
    # to 6 frames and re-encoded/re-decoded. Because FLAC is LOSSLESS
    # the oracle recomputes the decoded sample values themselves — mean
    # amplitude over the exact ramp, both stages — so any bit-packing,
    # rice, framing, or resample-index bug flips the hash (stronger than
    # the constant-fill contract lossy JPEG gets).
    from clinpy_spark.operators.multimodal import extract_features, resize

    media = _synth_flac(_t(spark, sf, "documents").filter(F.col("doc_id") < 150))
    orig = extract_features(media).withColumn("stage", F.lit("orig"))
    rez = extract_features(resize(media, width=6)).withColumn("stage", F.lit("resized"))
    return orig.unionByName(rez).select(
        "media_id", "stage", "width", "height", "mean_intensity"
    )


def _synth_flac(docs: DataFrame) -> DataFrame:
    """Deterministic non-negative ramp FLAC payloads from doc_id."""
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.flac import encode_flac

    def _synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n, ch = 100 + did % 100, 1 + did % 2
                i = np.arange(n)[:, None]
                c = np.arange(ch)[None, :]
                x = ((did * 31 + i * 7 + c * 13) % 1000).astype(np.int32)
                rows.append((did, "audio", encode_flac(x, rate=8000, bps=16, blocksize=64)))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "payload"])

    # Spread the single-file doc-id scan first: the pure-Python codec
    # work below otherwise runs in ONE task (ensure_min_parallelism is
    # a no-op on real multi-file tables).
    from clinpy_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id long, media_type string, payload binary"
    )



@q("mm_audio_lossy_gate", """
SELECT 'mp2' AS family, CAST(count(*) AS BIGINT) AS n_items,
       25.0 AS snr_floor_db, true AS passed
FROM documents WHERE doc_id < 40
""")
def mm_audio_lossy_gate_q(spark, sf):
    # LOSSY audio closed the FLAC way but GATED (r7 verdict #6): MP2 is
    # lossy by design, so equality oracles are impossible — instead each
    # doc synthesizes a deterministic two-tone signal, round-trips it
    # through the real ISO 11172-3 Layer II encode/decode
    # (operators/mp2.py), and the query emits ONE row asserting every
    # per-doc SNR clears the 25 dB floor (measured headroom ~43 dB, the
    # filterbank limit). The oracle pins passed=true and recomputes
    # n_items from the table — an allocation, requant, bit-packing, or
    # filterbank regression flips the hash. Arrow-batched mapInPandas;
    # payloads never leave executors.
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.mp2 import SYNTH_DELAY, decode_mp2, encode_mp2
    from clinpy_spark.session import ensure_min_parallelism

    docs = _t(spark, sf, "documents").filter(F.col("doc_id") < 40).select("doc_id")

    def _gate(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                t = np.arange(9216)
                f1 = 200 + (did % 20) * 100
                f2 = 2500 + (did % 10) * 250
                x = (0.5 * np.sin(2 * np.pi * f1 * t / 48000)
                     + 0.2 * np.sin(2 * np.pi * f2 * t / 48000))
                y = decode_mp2(encode_mp2(x, rate=48000, bitrate=192))
                snr = -1.0
                if y is not None:
                    a = x[: y.shape[0] - SYNTH_DELAY]
                    b = y[SYNTH_DELAY:, 0][: len(a)]
                    a2, b2 = a[1000:-1000], b[1000:-1000]
                    err = max(float(((a2 - b2) ** 2).mean()), 1e-300)
                    snr = 10.0 * np.log10(float((a2 ** 2).mean()) / err)
                rows.append((did, float(snr)))
            yield pd.DataFrame(rows, columns=["doc_id", "snr"])

    per = ensure_min_parallelism(docs).mapInPandas(_gate, "doc_id long, snr double")
    return per.agg(
        F.lit("mp2").alias("family"),
        F.count("*").cast("long").alias("n_items"),
        F.lit(25.0).alias("snr_floor_db"),
        (F.min("snr") >= F.lit(25.0)).alias("passed"),
    )

@q("mm_video_frames", """
WITH d AS (
  SELECT doc_id, 3 + doc_id % 4 AS nf, 10 + doc_id % 6 AS w, 9 + doc_id % 5 AS h
  FROM documents WHERE doc_id < 150),
ks AS (SELECT doc_id, nf, w, h, unnest(range(nf)) AS k FROM d),
sampled AS (SELECT * FROM ks WHERE k % 2 = 0),
orig AS (
  SELECT doc_id, 'orig' AS stage, k, CAST(w AS BIGINT) AS width,
         CAST(h AS BIGINT) AS height,
         ((doc_id * 37 + k * 11) % 256) / 255.0 AS mean_intensity
  FROM sampled),
rez AS (
  SELECT doc_id, 'resized' AS stage, k, CAST(5 AS BIGINT) AS width,
         CAST(4 AS BIGINT) AS height,
         ((doc_id * 37 + k * 11) % 256) / 255.0 AS mean_intensity
  FROM sampled)
SELECT doc_id AS media_id, stage, CAST(k AS BIGINT) AS frame_no,
       width, height, mean_intensity
FROM (SELECT * FROM orig UNION ALL SELECT * FROM rez)
""")
def mm_video_frames_q(spark, sf):
    # REAL video path, ORACLE-CHECKED: MJPEG-AVI payloads (RIFF
    # container, one constant-fill JFIF per frame — operators/avi.py)
    # are synthesized from doc_id, every 2nd keyframe is EXTRACTED AND
    # DECODED (frame_extract), then the whole video is resized to 5x4
    # (per-frame JPEG re-encode inside a rebuilt AVI) and re-extracted.
    # Constant fill per frame survives the lossy JPEG hop exactly, so
    # DuckDB predicts each sampled frame's (dims, mean) by formula —
    # covering the RIFF walker, the JPEG codec both ways, the frame
    # sampler's stride, and the container re-emit in one hash.
    from clinpy_spark.operators.multimodal import frame_extract, resize

    media = _synth_avi(_t(spark, sf, "documents").filter(F.col("doc_id") < 150))
    orig = frame_extract(media, every_n=2).withColumn("stage", F.lit("orig"))
    rez = frame_extract(resize(media, width=5, height=4), every_n=2).withColumn(
        "stage", F.lit("resized"))
    return orig.unionByName(rez).select(
        "media_id", "stage", "frame_no", "width", "height", "mean_intensity"
    )


def _synth_avi(docs: DataFrame) -> DataFrame:
    """Deterministic MJPEG-AVI payloads: 3-6 constant-fill frames per
    doc, fill varying per frame so the sampler's stride is hash-visible."""
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.avi import encode_avi_mjpeg

    def _synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf, w, h = 3 + did % 4, 10 + did % 6, 9 + did % 5
                frames = [np.full((h, w, 3), (did * 37 + k * 11) % 256, dtype=np.uint8)
                          for k in range(nf)]
                rows.append((did, "video", encode_avi_mjpeg(frames, fps=25)))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "payload"])

    # Spread the single-file doc-id scan first: the pure-Python codec
    # work below otherwise runs in ONE task (ensure_min_parallelism is
    # a no-op on real multi-file tables).
    from clinpy_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id long, media_type string, payload binary"
    )


@q("mm_gif_frames", """
WITH d AS (
  SELECT doc_id, 2 + doc_id % 3 AS nf, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
  FROM documents WHERE doc_id < 150),
ks AS (SELECT doc_id, nf, w, h, unnest(range(nf)) AS k FROM d),
sampled AS (SELECT * FROM ks WHERE k % 2 = 0),
orig AS (
  SELECT doc_id, 'orig' AS stage, k, CAST(w AS BIGINT) AS width,
         CAST(h AS BIGINT) AS height,
         ((doc_id * 13 + k * 29) % 256) / 255.0 AS mean_intensity
  FROM sampled),
rez AS (
  SELECT doc_id, 'resized' AS stage, k, CAST(5 AS BIGINT) AS width,
         CAST(4 AS BIGINT) AS height,
         ((doc_id * 13 + k * 29) % 256) / 255.0 AS mean_intensity
  FROM sampled)
SELECT doc_id AS media_id, stage, CAST(k AS BIGINT) AS frame_no,
       width, height, mean_intensity
FROM (SELECT * FROM orig UNION ALL SELECT * FROM rez)
""")
def mm_gif_frames_q(spark, sf):
    # Animated GIF, ORACLE-CHECKED end-to-end: LZW-compressed paletted
    # animations (operators/gif.py — real LZW both directions) are
    # synthesized from doc_id with a constant fill per frame, stride-2
    # keyframes are extracted AND composited-decoded, then the whole
    # animation is resized to 5x4 (lossless palette re-encode) and
    # re-extracted. GIF is lossless for paletted content, so DuckDB
    # predicts every sampled frame's (dims, mean) by formula — an LZW,
    # palette, compositing, or sampler bug flips the hash.
    from clinpy_spark.operators.multimodal import frame_extract, resize

    media = _synth_gif(_t(spark, sf, "documents").filter(F.col("doc_id") < 150))
    orig = frame_extract(media, every_n=2).withColumn("stage", F.lit("orig"))
    rez = frame_extract(resize(media, width=5, height=4), every_n=2).withColumn(
        "stage", F.lit("resized"))
    return orig.unionByName(rez).select(
        "media_id", "stage", "frame_no", "width", "height", "mean_intensity"
    )


def _synth_gif(docs: DataFrame) -> DataFrame:
    """Deterministic animated-GIF payloads: 2-4 constant-fill frames per
    doc, fill varying per frame so the sampler stride is hash-visible."""
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.gif import encode_gif

    def _synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                nf, w, h = 2 + did % 3, 8 + did % 5, 6 + did % 4
                frames = np.stack([
                    np.full((h, w, 3), (did * 13 + k * 29) % 256, dtype=np.uint8)
                    for k in range(nf)
                ])
                rows.append((did, "video", encode_gif(frames)))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "payload"])

    # Spread the single-file doc-id scan first: the pure-Python codec
    # work below otherwise runs in ONE task (ensure_min_parallelism is
    # a no-op on real multi-file tables).
    from clinpy_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id long, media_type string, payload binary"
    )


@q("mm_tiff_features", """
WITH d AS (
  SELECT doc_id, 6 + doc_id % 7 AS w, 5 + doc_id % 6 AS h
  FROM documents WHERE doc_id < 150),
s1 AS (SELECT doc_id, w, h, unnest(range(h)) AS y FROM d),
s2 AS (SELECT doc_id, w, h, y, unnest(range(w)) AS x FROM s1),
s3 AS (SELECT doc_id, w, h, y, x, unnest(range(3)) AS c FROM s2),
orig AS (
  SELECT doc_id, 'orig' AS stage, w AS width, h AS height,
         avg(CAST((doc_id * 7 + y * 3 + x * 5 + c * 11) % 256 AS DOUBLE)) / 255.0
           AS mean_intensity
  FROM s3 GROUP BY doc_id, w, h),
r1 AS (SELECT doc_id, w, h, unnest(range(4)) AS i FROM d),
r2 AS (SELECT doc_id, w, h, i, unnest(range(5)) AS j FROM r1),
r3 AS (SELECT doc_id, w, h, (i * h) // 4 AS y, (j * w) // 5 AS x,
              unnest(range(3)) AS c FROM r2),
rez AS (
  SELECT doc_id, 'resized' AS stage, CAST(5 AS BIGINT) AS width,
         CAST(4 AS BIGINT) AS height,
         avg(CAST((doc_id * 7 + y * 3 + x * 5 + c * 11) % 256 AS DOUBLE)) / 255.0
           AS mean_intensity
  FROM r3 GROUP BY doc_id)
SELECT doc_id AS media_id, stage, CAST(width AS BIGINT) AS width,
       CAST(height AS BIGINT) AS height, mean_intensity
FROM (SELECT * FROM orig UNION ALL SELECT * FROM rez)
""")
def mm_tiff_features_q(spark, sf):
    # TIFF, ORACLE-CHECKED pixel-by-pixel: deterministic RAMP images
    # (px[y,x,c] = (doc_id*7 + y*3 + x*5 + c*11) % 256) are encoded on
    # executors (operators/tiff.py), decoded through the real IFD/strip
    # reader, featurized, then nearest-neighbor resized to 5x4 with a
    # TIFF re-encode and re-decoded. TIFF is LOSSLESS, so DuckDB
    # recomputes the decoded pixel values themselves for BOTH stages
    # (including the NN index map (i*h)//4, (j*w)//5) — an IFD, strip,
    # byte-order, or resize-index bug flips the hash.
    from clinpy_spark.operators.multimodal import extract_features, resize

    media = _synth_tiff(_t(spark, sf, "documents").filter(F.col("doc_id") < 150))
    orig = extract_features(media).withColumn("stage", F.lit("orig"))
    rez = extract_features(resize(media, width=5, height=4)).withColumn(
        "stage", F.lit("resized"))
    return orig.unionByName(rez).select(
        "media_id", "stage", "width", "height", "mean_intensity"
    )


def _synth_tiff(docs: DataFrame) -> DataFrame:
    """Deterministic ramp TIFF payloads from doc_id."""
    import numpy as np
    import pandas as pd

    from clinpy_spark.operators.tiff import encode_tiff

    def _synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 6 + did % 7, 5 + did % 6
                y = np.arange(h)[:, None, None]
                x = np.arange(w)[None, :, None]
                c = np.arange(3)[None, None, :]
                px = ((did * 7 + y * 3 + x * 5 + c * 11) % 256).astype(np.uint8)
                rows.append((did, "image", encode_tiff(px)))
            yield pd.DataFrame(rows, columns=["media_id", "media_type", "payload"])

    # Spread the single-file doc-id scan first: the pure-Python codec
    # work below otherwise runs in ONE task (ensure_min_parallelism is
    # a no-op on real multi-file tables).
    from clinpy_spark.session import ensure_min_parallelism

    return ensure_min_parallelism(docs.select("doc_id")).mapInPandas(
        _synth, schema="media_id long, media_type string, payload binary"
    )


@q("u1_grouped_filter", """
SELECT event_id FROM (
  SELECT event_id, value, avg(value) OVER (PARTITION BY user_id) AS uavg
  FROM events
) WHERE value >= uavg
""")
def u1_grouped_filter_q(spark, sf):
    # U1: per-group DataFrame->DataFrame user filter via applyInPandas
    # (junction.py:113-130 grouped-map semantics). NOTE (r14, measured):
    # pre-selecting only the 3 used columns (guide §4.1 — the grouped
    # map is opaque to pruning, so ts/event_type/props ship through
    # Arrow for nothing) made this query SLOWER at sf0.1 (2.3 -> 3.2s):
    # the smaller shuffle made AQE coalesce the grouped-map exchange to
    # ONE partition, serializing the Python workers that dominate the
    # query. The prune only pays at real scale where AQE keeps the
    # partition count; kept unpruned so the bench reflects the
    # shipping shape.
    ev = _t(spark, sf, "events")

    def keep_above_mean(pdf):
        return pdf[pdf["value"] >= pdf["value"].mean()][["event_id"]]

    return ev.groupBy("user_id").applyInPandas(keep_above_mean, schema="event_id long")


@q("j16_nearest_feature", """
WITH f AS (
  SELECT c_custkey AS f_id, c_nationkey % 3 AS chrom,
         (c_custkey * 37) % 100000 AS f_start,
         (c_custkey * 37) % 100000 + 500 AS f_end
  FROM customer),
qq AS (
  SELECT s_suppkey AS id, s_nationkey % 3 AS chrom,
         (s_suppkey * 91) % 100000 AS q_start,
         (s_suppkey * 91) % 100000 + 200 AS q_end
  FROM supplier),
cand AS (
  SELECT qq.id, qq.chrom, qq.q_start, qq.q_end, f.f_id,
         greatest(0, f.f_start - qq.q_end, qq.q_start - f.f_end) AS distance
  FROM qq JOIN f USING (chrom))
SELECT id, chrom, q_start AS start, q_end AS "end", f_id, CAST(distance AS BIGINT) AS distance
FROM cand
QUALIFY row_number() OVER (PARTITION BY id ORDER BY distance, f_id) = 1
""")
def j16_nearest_feature_q(spark, sf):
    # Nearest-interval join (pyranges .nearest analogue): overlap via the
    # binned join + one backward and one forward as-of join, rank-1 per
    # query — no cross join on the Spark side; the oracle brute-forces
    # all pairs per chrom and must agree exactly.
    from clinpy_spark.operators.genome import nearest_feature

    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    feats = cust.select(
        F.col("c_custkey").alias("id"), (F.col("c_nationkey") % 3).alias("chrom"),
        ((F.col("c_custkey") * 37) % 100000).alias("start"),
        ((F.col("c_custkey") * 37) % 100000 + 500).alias("end"),
    )
    qs = supp.select(
        F.col("s_suppkey").alias("id"), (F.col("s_nationkey") % 3).alias("chrom"),
        ((F.col("s_suppkey") * 91) % 100000).alias("start"),
        ((F.col("s_suppkey") * 91) % 100000 + 200).alias("end"),
    )
    return nearest_feature(qs, feats, bin_size=10_000)


# ---------------------------------------------------------------------------
# Packing / vocabulary — pre-training data preparation ops.
# ---------------------------------------------------------------------------

@q("text_pack_chunks", """
WITH t AS (
  SELECT lang, doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
  FROM documents),
p AS (
  SELECT lang, doc_id, n_tok,
    CAST(floor((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tok) / 512.0)
         AS BIGINT) AS chunk_id
  FROM t)
SELECT lang, chunk_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok
FROM p GROUP BY lang, chunk_id
""")
def text_pack_chunks_q(spark, sf):
    # Offset-bucketed sequence packing per lang (chunk = start-offset //
    # budget via one window cumsum) — the parallelizable packing form;
    # see operators/pack.py for the precise straddling semantics.
    from clinpy_spark.operators.pack import pack_chunk_stats

    return pack_chunk_stats(_t(spark, sf, "documents"), budget=512)


@q("text_vocab_topk", """
WITH tok AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents),
f AS (SELECT token, CAST(count(*) AS BIGINT) AS freq
      FROM tok WHERE token <> '' GROUP BY token)
SELECT token, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, token ASC) AS INTEGER) AS vocab_id
FROM f QUALIFY vocab_id <= 100
""")
def text_vocab_topk_q(spark, sf):
    # Vocabulary build: corpus token frequencies -> top-k with dense ids;
    # the rank window shuffles only the vocabulary-sized distinct-token
    # table (explode+count is map-side combined).
    from clinpy_spark.operators.pack import vocab_topk

    return vocab_topk(_t(spark, sf, "documents"), k=100)


# ---------------------------------------------------------------------------
# Mixture sampling + redaction — reproducible-pipeline ops.
# ---------------------------------------------------------------------------

_MIX_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25, "es": 0.1}


def _mix_sql_thresholds():
    from clinpy_spark.operators.sample import _hex_threshold

    cases = " ".join(
        f"WHEN '{g}' THEN '{_hex_threshold(f)}'" for g, f in _MIX_FRACTIONS.items()
    )
    return f"CASE lang {cases} ELSE '{_hex_threshold(0.0)}' END"


@q("mix_by_lang", f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n
FROM documents
WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 8) < {_mix_sql_thresholds()}
GROUP BY lang
""")
def mix_by_lang_q(spark, sf):
    # Data-mixture sampling: per-group keep fractions decided by a pure
    # md5 hash (stable under repartitioning/restart/engine — the oracle
    # recomputes the SAME decisions, so this hash-matches EXACTLY, unlike
    # RNG sampling which only admits accuracy-contract checks like s13).
    from clinpy_spark.operators.sample import mix_corpus

    mixed = mix_corpus(_t(spark, sf, "documents"), _MIX_FRACTIONS,
                       group_col="lang", key_col="doc_id", seed=42)
    return mixed.groupBy("lang").agg(F.count("*").alias("n"))


_RESAMPLE_RATIOS = {"en": 2.25, "de": 0.5, "zh": 1.0}


def _resample_sql():
    from clinpy_spark.operators.sample import _hex_threshold

    import math

    full = " ".join(
        f"WHEN '{g}' THEN {int(math.floor(r))}" for g, r in _RESAMPLE_RATIOS.items()
    )
    thr = " ".join(
        f"WHEN '{g}' THEN '{_hex_threshold(r - math.floor(r))}'"
        for g, r in _RESAMPLE_RATIOS.items()
    )
    return f"""
WITH k AS (
  SELECT lang,
         CASE lang {full} ELSE 1 END
         + CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 8)
                     < CASE lang {thr} ELSE '{_hex_threshold(0.0)}' END
                THEN 1 ELSE 0 END AS n_copies
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n
FROM k, unnest(range(0, k.n_copies)) AS u(ci)
GROUP BY lang
"""


@q("mix_resample_upsample", _resample_sql())
def mix_resample_upsample_q(spark, sf):
    # Full mixture resampling: ratios ABOVE 1 repeat rows (floor full
    # copies + hash-decided extra), below 1 down-sample — the complete
    # pre-training mixture move, with every copy decision a pure hash
    # the oracle recomputes exactly.
    from clinpy_spark.operators.sample import resample_corpus

    out = resample_corpus(_t(spark, sf, "documents"), _RESAMPLE_RATIOS,
                          group_col="lang", key_col="doc_id", seed=42)
    return out.groupBy("lang").agg(F.count("*").alias("n"))


def _split_sql():
    from clinpy_spark.operators.sample import _hex_threshold

    t_train, t_val = _hex_threshold(0.8), _hex_threshold(0.9)
    return f"""
WITH h AS (
  SELECT lang, substr(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 8) AS hx
  FROM documents)
SELECT CASE WHEN hx < '{t_train}' THEN 'train'
            WHEN hx < '{t_val}' THEN 'val' ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n
FROM h GROUP BY 1
"""


@q("sample_exact_n", """
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(concat(CAST(doc_id AS VARCHAR), ':42')), 1, 8) ASC,
                    doc_id ASC) AS rk
  FROM documents)
SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM ranked WHERE rk <= 40 GROUP BY lang
""")
def sample_exact_n_q(spark, sf):
    # Exact per-group quota sampling: deterministic hash-rank keeps
    # EXACTLY n rows per group (sum_ids proves the same rows, not just
    # the same counts, were chosen in both engines).
    from clinpy_spark.operators.sample import sample_exact_n

    out = sample_exact_n(_t(spark, sf, "documents"), 40, group_col="lang",
                         key_col="doc_id", seed=42)
    return out.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("sum_ids")
    )


def _weighted_sample_oracle_sql(n: int = 20, seed: int = 42) -> str:
    hex32 = "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || ':{seed}'), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    ) + ")"
    return f"""
WITH w AS (
  SELECT doc_id, lang,
         len(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS wt
  FROM documents),
keyed AS (
  SELECT doc_id, lang, wt,
         ln(({hex32} + 1) / 4294967297.0) / wt AS aes
  FROM w WHERE wt > 0),
ranked AS (
  SELECT doc_id, lang, wt,
         row_number() OVER (PARTITION BY lang ORDER BY aes DESC, doc_id ASC) AS rk
  FROM keyed)
SELECT lang, doc_id, CAST(wt AS BIGINT) AS weight
FROM ranked WHERE rk <= {n} ORDER BY lang, doc_id
"""


@q("mix_temperature_quota", """
WITH c AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
w AS (SELECT lang, c, CAST(floor(sqrt(c)) AS BIGINT) AS w FROM c),
tw AS (SELECT CAST(sum(w) AS BIGINT) AS tot_w FROM w),
q AS (SELECT lang, c, least(c, CAST(floor((200 * w + tot_w - 1) / tot_w) AS BIGINT)) AS quota
      FROM w, tw),
ranked AS (
  SELECT d.lang, d.doc_id, q.quota,
         row_number() OVER (
           PARTITION BY d.lang
           ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR) || ':42'), 1, 8) ASC,
                    d.doc_id ASC) AS rk
  FROM documents d JOIN q ON q.lang = d.lang)
SELECT lang, CAST(any_value(quota) AS BIGINT) AS quota,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM ranked WHERE rk <= quota GROUP BY lang ORDER BY lang
""")
def mix_temperature_quota_q(spark, sf):
    # Temperature-balanced mixture (alpha=0.5, operators/sample.py):
    # a 200-doc budget is allocated across languages by floor(sqrt(c))
    # weights — the multilingual up-weight-the-tail move — and each
    # group keeps its quota via the deterministic hash rank. sqrt is
    # correctly rounded and the rest of the quota arithmetic is
    # integer, so the oracle recomputes quotas AND the exact chosen
    # rows (sum_ids) bit-for-bit.
    from clinpy_spark.operators.sample import temperature_quota

    out = temperature_quota(_t(spark, sf, "documents"), 200,
                            group_col="lang", key_col="doc_id", seed=42)
    counts = _t(spark, sf, "documents").groupBy("lang").agg(
        F.count(F.lit(1)).alias("__c"))
    w = counts.withColumn("__w", F.floor(F.sqrt("__c")).cast("long"))
    quota = (w.withColumn("__tw", F.sum("__w").over(Window.partitionBy()))
             .select("lang", F.least(
                 F.col("__c"),
                 F.floor((F.lit(200) * F.col("__w") + F.col("__tw") - 1)
                         / F.col("__tw")).cast("long")).alias("quota")))
    return (
        out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_selected"), F.sum("doc_id").alias("sum_ids"))
        .join(quota, "lang")
        .select("lang", "quota", "n_selected", "sum_ids")
        .orderBy("lang")
    )


@q("sample_weighted_n", _weighted_sample_oracle_sql())
def sample_weighted_n_q(spark, sf):
    # Weighted without-replacement quota (Efraimidis-Spirakis A-ES,
    # operators/sample.py): exactly 20 docs per lang, drawn with
    # probability proportional to token count, via the hash-derived
    # uniform ln(u)/w key — reproducible on any partitioning and
    # recomputed row-for-row by the oracle (the emitted ids prove the
    # same draw, not just the same counts). Rank gaps (~1e-7 on this
    # corpus) dwarf any cross-engine libm ulp skew, so the float key
    # ranking is engine-stable.
    from clinpy_spark.functions.text import norm_tokens
    from clinpy_spark.operators.sample import sample_weighted_n

    docs = _t(spark, sf, "documents").select(
        "doc_id", "lang", F.size(norm_tokens("text")).alias("weight"))
    out = sample_weighted_n(docs, 20, "weight", group_col="lang",
                            key_col="doc_id", seed=42)
    return out.select(
        "lang", "doc_id", F.col("weight").cast("long").alias("weight")
    ).orderBy("lang", "doc_id")


@q("s15_histogram", f"""
SELECT CAST(floor(c_acctbal / 500.0) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       {DSUM('c_acctbal', 2)} AS sum_bal
FROM customer GROUP BY bin
""")
def s15_histogram_q(spark, sf):
    # Fixed-width histogram (profiling primitive): floor-division binning
    # handles negative balances identically in both engines; counts +
    # per-bin exact decimal sums.
    cust = _t(spark, sf, "customer")
    return (
        cust.groupBy(F.floor(F.col("c_acctbal") / 500.0).cast("bigint").alias("bin"))
        .agg(F.count("*").alias("n"), dsum(F.col("c_acctbal"), 2).alias("sum_bal"))
    )


@q("a13_rollup_revenue", f"""
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       CAST(count(*) AS BIGINT) AS n, {DSUM('c_acctbal', 2)} AS total_bal
FROM customer
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def a13_rollup_revenue(spark, sf):
    # Hierarchical subtotal aggregation (GROUP BY ROLLUP): per-nation,
    # per-region, and grand-total rows from ONE pass — Spark's rollup()
    # expands grouping sets inside a single Expand + aggregate, not one
    # job per level. Dims broadcast; both grouping columns are non-null
    # so the coalesce markers are unambiguous.
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey", "n_name")
    reg = _t(spark, sf, "region").select("r_regionkey", "r_name")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n"), dsum(F.col("c_acctbal"), 2).alias("total_bal"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n", "total_bal",
        )
    )


@q("s16_quantiles", """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90,
       round(max(o_totalprice), 2) AS mx
FROM orders GROUP BY o_orderpriority
""")
def s16_quantiles(spark, sf):
    # Exact grouped quantiles (continuous/interpolated definition — the
    # same (n-1)*p rank rule in Spark and DuckDB; 6dp rounding absorbs
    # the last-ulp interpolation-form difference). The profiling
    # primitive behind outlier gates; swap percentile() for
    # approx_percentile() at 100 TB for the sketch version (tested).
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5), 6).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 6).alias("p90"),
        F.round(F.max("o_totalprice"), 2).alias("mx"),
    )


@q("e_gaps_islands", """
WITH s AS (
  SELECT user_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
  FROM events)
SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS run_len, min(ts) AS run_start
FROM s GROUP BY user_id, event_type, grp
HAVING count(*) >= 3
""")
def e_gaps_islands(spark, sf):
    # Gaps-and-islands: maximal runs of consecutive same-type events per
    # user via the two-row_number difference trick — one shuffle on
    # user_id serves both windows (the second partitions by a superset
    # key), then one aggregate. Runs >= 3 are the behavioral-streak
    # output (bot detection / engagement bursts).
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = ev.withColumn(
        "grp", F.row_number().over(w_all) - F.row_number().over(w_typ)
    )
    return (
        runs.groupBy("user_id", "event_type", "grp")
        .agg(F.count("*").alias("run_len"), F.min("ts").alias("run_start"))
        .filter(F.col("run_len") >= 3)
        .drop("grp")
    )


@q("split_corpus_assign", _split_sql())
def split_corpus_assign_q(spark, sf):
    # Deterministic train/val/test assignment: disjoint cumulative hash
    # ranges over the same md5 coordinate as mix_by_lang — membership is
    # auditable by recomputing the hash, proven by the oracle doing so.
    from clinpy_spark.operators.sample import split_corpus

    assigned = split_corpus(_t(spark, sf, "documents"),
                            {"train": 0.8, "val": 0.1, "test": 0.1},
                            key_col="doc_id", seed=42)
    return assigned.groupBy("split").agg(F.count("*").alias("n"))


_REDACT_SQL_TEXT = ("concat('contact ', lower(c_name), '@corp.example call "
                    "+1 555 0100 00 re order ', CAST(c_custkey AS VARCHAR))")


@q("text_redact", f"""
WITH t AS (SELECT c_mktsegment, {_REDACT_SQL_TEXT} AS txt FROM customer),
r AS (SELECT c_mktsegment,
             regexp_replace(regexp_replace(regexp_replace(txt,
               '[a-zA-Z0-9._#+-]+@[a-zA-Z][a-zA-Z0-9.-]+', '[EMAIL]', 'g'),
               '\\+?[0-9][0-9()\\- ]{{7,}}[0-9]', '[PHONE]', 'g'),
               '[0-9]+', '[NUM]', 'g') AS red
      FROM t)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(count(CASE WHEN contains(red, '[EMAIL]') THEN 1 END) AS BIGINT) AS n_email,
       CAST(count(CASE WHEN contains(red, '[PHONE]') THEN 1 END) AS BIGINT) AS n_phone,
       CAST(sum(length(red)) AS BIGINT) AS sum_len
FROM r GROUP BY c_mktsegment
""")
def text_redact_q(spark, sf):
    # PII scrub: ordered regex redaction (email -> phone -> number) as
    # pure column expressions; patterns restricted to the Java/RE2
    # common subset so any engine scrubs identically.
    from clinpy_spark.functions.text import redact

    cust = _t(spark, sf, "customer")
    txt = F.concat(
        F.lit("contact "), F.lower("c_name"),
        F.lit("@corp.example call +1 555 0100 00 re order "),
        F.col("c_custkey").cast("string"),
    )
    red = cust.select("c_mktsegment", redact(txt).alias("red"))
    return red.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("red").contains("[EMAIL]"), 1)).alias("n_email"),
        F.count(F.when(F.col("red").contains("[PHONE]"), 1)).alias("n_phone"),
        F.sum(F.length("red")).alias("sum_len"),
    )


@q("text_bpe_gate", """
WITH n AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
         string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(w)) AS BIGINT) AS total_words,
       CAST(sum(length(norm) - (len(w) - 1)) AS BIGINT) AS total_chars,
       CAST(least((SELECT count(DISTINCT word)
                   FROM (SELECT unnest(w) AS word FROM n) u), 30000)
            AS BIGINT) AS n_word_types,
       true AS passed
FROM n
""")
def text_bpe_gate_q(spark, sf):
    # Distributed BPE tokenizer end-to-end (operators/bpe.py): train 150
    # merges from the corpus word-frequency table (one explode+groupBy,
    # bounded 30k-row collect — the codebook-fit contract), then encode
    # every document via Arrow-batched mapInPandas and gate on (a)
    # lossless round-trip of every word, (b) per-doc token-count bounds
    # n_words <= n_tokens <= n_chars, (c) the merges actually compress.
    # The oracle recomputes the engine-independent columns (doc count,
    # word count, char count via normalized-length arithmetic) and pins
    # passed=true — a trainer/encoder regression flips the hash. Lossy
    # of nothing: segmentation is data-derived, so token identities are
    # gated, not hash-compared (same contract as mm_audio_lossy_gate).
    from clinpy_spark.operators.bpe import bpe_gate
    from clinpy_spark.session import ensure_min_parallelism

    docs = ensure_min_parallelism(_t(spark, sf, "documents").select("doc_id", "text"))
    return bpe_gate(docs, num_merges=150, max_word_types=30_000)


def _cms_oracle_sql(width: int = 256, depth: int = 3, k: int = 10) -> str:
    """DuckDB twin of the ENTIRE count-min pipeline (operators/sketch.py):
    portable 32-bit md5 bucket hashes, the depth×width counter build,
    and the min-bucket lookup — every counter and estimate is
    recomputed, so the sketch is hash-checked exactly (the HLL gate
    a15_hll_sketch can only bound its estimate; CMS is deterministic)."""
    hex32 = lambda expr: "(" + " + ".join(  # noqa: E731
        f"(strpos('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    ) + ")"
    ds = ", ".join(str(d) for d in range(depth))
    return f"""
WITH tok AS (
  SELECT unnest(string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS t
  FROM documents),
ex AS (
  SELECT t, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM tok GROUP BY t ORDER BY exact_cnt DESC, t LIMIT {k}),
ds AS (SELECT unnest([{ds}]) AS d),
cms AS (
  SELECT d AS row, {hex32("t || '|' || CAST(d AS VARCHAR)")} % {width} AS bucket,
         CAST(count(*) AS BIGINT) AS cnt
  FROM tok CROSS JOIN ds GROUP BY 1, 2),
probe AS (
  SELECT ex.t, ex.exact_cnt, ds.d,
         {hex32("ex.t || '|' || CAST(ds.d AS VARCHAR)")} % {width} AS bucket
  FROM ex CROSS JOIN ds),
est AS (
  SELECT p.t, p.exact_cnt, min(coalesce(c.cnt, 0)) AS cms_cnt
  FROM probe p LEFT JOIN cms c ON c.row = p.d AND c.bucket = p.bucket
  GROUP BY p.t, p.exact_cnt)
SELECT t AS token, exact_cnt, cms_cnt, cms_cnt >= exact_cnt AS overestimates
FROM est ORDER BY exact_cnt DESC, token
"""


def _bloom_oracle_sql(n_bits: int = 65_536, k: int = 4) -> str:
    """DuckDB twin of the Bloom decontamination pass: same md5 bit
    positions, same all-k-bits membership rule — every per-doc hit
    count is recomputed exactly (no false negatives by construction;
    false positives are DETERMINISTIC given the hash family, so the two
    engines agree bit-for-bit even about the filter's mistakes)."""
    hex32 = lambda expr: "(" + " + ".join(  # noqa: E731
        f"(strpos('0123456789abcdef', substr(md5({expr}), {j + 1}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    ) + ")"
    js = ", ".join(str(j) for j in range(k))
    return f"""
WITH words AS ({_SHINGLE_SQL}),
sh AS (
  SELECT doc_id, unnest(CASE WHEN len(w) - 4 <= 0 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 3), i -> array_to_string(w[i:i+4], ' ')) END) AS s
  FROM words),
js AS (SELECT unnest([{js}]) AS j),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
bits AS (SELECT DISTINCT {hex32("s || '#' || CAST(j AS VARCHAR)")} % {n_bits} AS bit
         FROM bench CROSS JOIN js),
train AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
probe AS (SELECT t.doc_id, t.s,
                 {hex32("t.s || '#' || CAST(js.j AS VARCHAR)")} % {n_bits} AS bit
          FROM train t CROSS JOIN js),
flag AS (SELECT p.doc_id, p.s, count(b.bit) = {k} AS maybe
         FROM probe p LEFT JOIN bits b ON b.bit = p.bit
         GROUP BY p.doc_id, p.s)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (WHERE maybe) AS BIGINT) AS n_bloom_hits
FROM flag GROUP BY doc_id ORDER BY doc_id
"""


@q("text_bloom_decontaminate", _bloom_oracle_sql())
def text_bloom_decontaminate_q(spark, sf):
    # Bloom-filter decontamination (operators/sketch.py): the benchmark
    # side's 5-gram shingles compress to a <=65536-row bit table that
    # BROADCASTS to the corpus scan — the scale alternative to
    # text_decontaminate's shingle equi-join, whose wide shuffle moves
    # the corpus's distinct shingles. No false negatives by Bloom
    # construction (a contaminated doc is never missed); false
    # positives are deterministic given the md5 hash family, so the
    # oracle recomputes the exact per-doc hit counts, mistakes included.
    from clinpy_spark.functions.text import shingles
    from clinpy_spark.operators.sketch import bloom_bits, bloom_probe
    from clinpy_spark.session import ensure_min_parallelism

    # the interpreted HOF shingling is the dominant cost — spread it
    # across cores even when the source is one small parquet file, and
    # materialize it ONCE (the bench and train branches both consume it;
    # without the checkpoint Catalyst re-shingles per branch)
    docs = ensure_min_parallelism(_t(spark, sf, "documents")).select(
        "doc_id", F.array_distinct(shingles(F.col("text"), 5)).alias("__sh")
    ).localCheckpoint(eager=False)
    bench = (docs.filter(F.col("doc_id") % 97 == 0)
             .select(F.explode("__sh").alias("s")).distinct())
    bits = bloom_bits(bench, "s")
    train = (docs.filter(F.col("doc_id") % 97 != 0)
             .select("doc_id", F.explode("__sh").alias("s")))
    # (doc_id, s) is distinct by construction (explode of array_distinct)
    flagged = bloom_probe(train, ["doc_id"], "s", bits, assume_distinct=True)
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("bloom_maybe"), 1)).alias("n_bloom_hits"),
        )
        .orderBy("doc_id")
    )


@q("text_split_pieces", """
WITH w AS (
  SELECT doc_id,
         string_split_regex(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS w
  FROM documents),
pieces AS (
  SELECT doc_id, len(w) AS n_tok,
         unnest(range(CAST(ceil(len(w) / 32.0) AS BIGINT))) AS piece_idx,
         w
  FROM w)
SELECT doc_id, CAST(any_value(n_tok) AS BIGINT) AS n_tok,
       CAST(count(*) AS BIGINT) AS n_pieces,
       CAST(max(len(w[piece_idx * 32 + 1 : piece_idx * 32 + 32])) AS BIGINT) AS max_piece,
       CAST(sum(len(w[piece_idx * 32 + 1 : piece_idx * 32 + 32])) AS BIGINT) AS sum_piece
FROM pieces GROUP BY doc_id
""")
def text_split_pieces_q(spark, sf):
    # Long-document splitting for packing (operators/pack.py::
    # split_long_docs): ceil(n_tok/32) consecutive 32-token pieces per
    # doc via sequence explode + slice — no UDF. The oracle recomputes
    # every piece boundary (1-based inclusive slices clamp identically
    # in both engines); sum_piece == n_tok proves losslessness row by
    # row and the hash pins it.
    from clinpy_spark.functions.text import norm_tokens
    from clinpy_spark.operators.pack import split_long_docs

    docs = _t(spark, sf, "documents")
    sizes = docs.select(
        "doc_id", F.size(norm_tokens("text")).cast("long").alias("n_tok"))
    pieces = split_long_docs(docs, budget=32)
    per_doc = pieces.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        F.max("piece_tok").alias("max_piece"),
        F.sum("piece_tok").alias("sum_piece"),
    )
    return sizes.join(per_doc, "doc_id").select(
        "doc_id", "n_tok", "n_pieces", "max_piece", "sum_piece")


@q("text_cms_topk", _cms_oracle_sql())
def text_cms_topk_q(spark, sf):
    # Count-min sketch heavy hitters (operators/sketch.py): build the
    # depth=3 × width=256 counter table in ONE explode + groupBy whose
    # shuffle key space is the constant sketch size (not the
    # vocabulary), then annotate the exact top-10 tokens with the
    # min-bucket estimate. Portable md5 bucket hashing makes the whole
    # sketch — every counter, every estimate, the one-sided
    # overestimates flag — bit-identical in DuckDB, so this is a full
    # hash check of a sketch operator, not an accuracy gate. Mergeable
    # across shards by bucket-wise addition (cms_merge, pytest).
    from clinpy_spark.operators.sketch import cms_token_topk

    return cms_token_topk(_t(spark, sf, "documents"), k=10, width=256, depth=3)


# ---------------------------------------------------------------------------
# Curation pipeline — the end-to-end training-data pass (lang -> noise ->
# length -> exact dedup) as ONE labeled scan + one window shuffle.
# ---------------------------------------------------------------------------

_CURATE_SQL_LAB = """
  SELECT doc_id, lang, text,
    CASE WHEN lang NOT IN ('en', 'de') THEN 'lang'
         WHEN length(text) * 1.0 / greatest(
              CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END, 1)
              >= 5.6 THEN 'gibberish'
         WHEN (CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END)
              NOT BETWEEN 25 AND 80 THEN 'length'
    END AS gate,
    md5(substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 1, 40)) AS fp
  FROM documents
"""
_CURATE_SQL_DEDUP = f"""
WITH lab AS ({_CURATE_SQL_LAB}),
dup AS (
  SELECT doc_id, lang, gate, text,
         CASE WHEN gate IS NULL AND row_number() OVER (
                PARTITION BY fp, gate IS NULL ORDER BY doc_id) > 1
              THEN 'duplicate' ELSE gate END AS gate2
  FROM lab)
"""


def _curate_gates():
    # Gates tuned so every stage fires on the synthetic corpus: language
    # whitelist, mean-token-length gibberish heuristic, token band; the
    # duplicate gate keys on the 40-char prefix fingerprint (boilerplate
    # dedup — full-text fingerprints never collide in this corpus).
    ntok = token_count(F.col("text"))
    chars_per_tok = F.length("text") / F.greatest(ntok, F.lit(1))
    return [
        ("lang", ~F.col("lang").isin("en", "de")),
        ("gibberish", chars_per_tok >= 5.6),
        ("length", ~ntok.between(25, 80)),
    ]


@q("curate_stats", _CURATE_SQL_DEDUP + """
SELECT coalesce(gate2, 'kept') AS gate, count(*) AS n
FROM dup GROUP BY coalesce(gate2, 'kept')
""")
def curate_stats_q(spark, sf):
    # Per-gate drop report of the standard curation pass: first-failing-
    # gate when-chain + fingerprint-window duplicate gate, audited in a
    # single job (no per-stage count actions).
    from clinpy_spark.operators.curate import curation_stats

    return curation_stats(
        _t(spark, sf, "documents"), _curate_gates(), dedup_on=prefix_fingerprint("text")
    )


@q("curate_kept_by_lang", _CURATE_SQL_DEDUP + """
SELECT lang, count(*) AS n
FROM dup WHERE gate2 IS NULL GROUP BY lang
""")
def curate_kept_by_lang_q(spark, sf):
    # The curated output itself (rows surviving every gate), summarized.
    from clinpy_spark.operators.curate import curate

    kept = curate(
        _t(spark, sf, "documents"), _curate_gates(), dedup_on=prefix_fingerprint("text")
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n"))


def _gopher_oracle() -> str:
    from clinpy_spark.operators.curate import GOPHER_STOPWORDS

    sl = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return rf"""
WITH m AS (
  SELECT source,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
    length(regexp_replace(text, '\s+', '', 'g')) AS n_nonws,
    (length(text) - length(replace(text, '#', ''))
       + 3 * len(regexp_extract_all(text, '\.\.\.'))) AS n_symbol,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        x -> list_contains([{sl}], x))) AS n_stop
  FROM documents)
SELECT source,
  CASE WHEN n_words < 25 THEN 'too_short'
       WHEN n_words > 100000 THEN 'too_long'
       WHEN n_nonws < 4 * n_words OR n_nonws > 9 * n_words THEN 'word_length'
       WHEN 10 * n_symbol >= n_words THEN 'symbol_heavy'
       WHEN n_stop < 2 THEN 'low_stopword'
       ELSE 'kept' END AS gate,
  count(*) AS n
FROM m GROUP BY source, gate
"""


def _quality_model_oracle() -> str:
    from clinpy_spark.operators.curate import GOPHER_STOPWORDS

    sl = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return rf"""
WITH m AS (
  SELECT
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
    length(regexp_replace(text, '\s+', '', 'g')) AS n_nonws,
    (length(text) - length(replace(text, '#', ''))
       + 3 * len(regexp_extract_all(text, '\.\.\.'))) AS n_symbol,
    len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        x -> list_contains([{sl}], x))) AS n_stop
  FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_words >= 25 AND n_words <= 100000
                      AND n_nonws >= 4 * n_words AND n_nonws <= 9 * n_words
                      AND 10 * n_symbol < n_words AND n_stop >= 2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_rules,
       CAST(0.8 AS DOUBLE) AS floor,
       true AS passed
FROM m
"""


@q("curate_quality_model", _quality_model_oracle())
def curate_quality_model_q(spark, sf):
    # Model-based quality scoring (operators/classify.py): weak-label
    # the corpus with the integer-exact Gopher rules, train a
    # hashed-features logistic regression on a bounded sample (the
    # fastText-style classifier of production curation pipelines), and
    # gate training-set accuracy >= 0.8 (measured 0.94-0.96). The
    # oracle recomputes n_docs and the rule-kept count with the same
    # integer SQL and pins passed — a feature/label/solver regression
    # flips the hash; exact coefficients are solver detail, so this is
    # contract-gated like the ANN recall family, not hash-compared.
    from clinpy_spark.operators.classify import quality_model_gate

    return quality_model_gate(_t(spark, sf, "documents"))


@q("curate_gopher_rules", _gopher_oracle())
def curate_gopher_rules_q(spark, sf):
    # Gopher-style document-quality rules (Rae et al. 2021 table A1
    # flavor): word-count band, mean-word-length band, symbol ratio,
    # stopword floor — integer-only comparisons over ONE metrics
    # projection (no per-gate regex recomputation), first-fail labeled in
    # a single scan, reported per source.
    from clinpy_spark.operators.curate import GATE_COL, gopher_gates, gopher_metrics, label_gates

    m = gopher_metrics(_t(spark, sf, "documents"))
    lab = label_gates(m, gopher_gates())
    return lab.groupBy(
        "source", F.coalesce(F.col(GATE_COL), F.lit("kept")).alias("gate")
    ).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# V family — VCF parse/coerce primitives proven through the driver gate.
# The VCF tables themselves aren't in the star schema, so these drive the
# EXACT column machinery read_vcf uses (csq_struct / gt_*_expr, sources/
# vcf.py) over VCF-format strings synthesized from star tables, with a
# DuckDB oracle doing the same string surgery independently.
# ---------------------------------------------------------------------------

@q("v_typed_impacts", f"""
WITH src AS (
  SELECT concat_ws('|', l_returnflag, l_linestatus,
    CASE WHEN l_orderkey % 7 = 0 THEN '' ELSE CAST(l_discount AS VARCHAR) END,
    CASE WHEN l_orderkey % 5 = 0 THEN '' ELSE CAST(l_linenumber AS VARCHAR) END,
    CASE WHEN l_orderkey % 3 = 0 THEN 'YES' ELSE '' END) AS csq
  FROM lineitem
), p AS (SELECT string_split(csq, '|') AS f FROM src),
typed AS (
  SELECT f[1] AS consequence,
         CAST(NULLIF(f[3], '') AS DOUBLE) AS af,
         CAST(NULLIF(f[4], '') AS INTEGER) AS distance,
         CASE WHEN NULLIF(f[5], '') IS NULL THEN NULL ELSE TRUE END AS canonical
  FROM p)
SELECT consequence, count(*) AS n, {DSUM('af')} AS sum_af,
       CAST(sum(distance) AS BIGINT) AS sum_distance,
       count(canonical) AS n_canonical
FROM typed WHERE af < 0.05 GROUP BY consequence
""")
def v_typed_impacts_q(spark, sf):
    # P10 typed-coercion proof (VERDICT r1 #1): vcf.yaml-style type_dict
    # drives csq_struct — float af filter + int/bool aggregation on the
    # coerced columns, '' -> NULL throughout (snp_functions.py:55-78).
    from clinpy_spark.sources.vcf import csq_struct

    types = {"consequence": "str", "impact": "str", "af": "float",
             "distance": "int", "canonical": "bool"}
    li = _t(spark, sf, "lineitem")
    entry = F.concat_ws(
        "|",
        F.col("l_returnflag"), F.col("l_linestatus"),
        F.when(F.col("l_orderkey") % 7 == 0, F.lit("")).otherwise(F.col("l_discount").cast("string")),
        F.when(F.col("l_orderkey") % 5 == 0, F.lit("")).otherwise(F.col("l_linenumber").cast("string")),
        F.when(F.col("l_orderkey") % 3 == 0, F.lit("YES")).otherwise(F.lit("")),
    )
    typed = li.select(csq_struct(entry, list(types), types).alias("c")).select("c.*")
    return (
        typed.filter(F.col("af") < 0.05)
        .groupBy("consequence")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("af")).alias("sum_af"),
            F.sum("distance").alias("sum_distance"),
            F.count("canonical").alias("n_canonical"),
        )
    )


@q("v_gt_structural", """
WITH src AS (
  SELECT CASE o_orderkey % 5 WHEN 0 THEN '0/1' WHEN 1 THEN '1|1'
         WHEN 2 THEN '0/0' WHEN 3 THEN './.' ELSE '1/2' END AS gtraw
  FROM orders
), alle AS (
  SELECT gtraw, string_split_regex(gtraw, '[/|]') AS p FROM src
), typed AS (
  SELECT concat('(', array_to_string(p, ', '), ')') AS gt,
         TRY_CAST(p[1] AS INTEGER) AS a0, TRY_CAST(p[2] AS INTEGER) AS a1,
         contains(gtraw, '|') AS phased
  FROM alle)
SELECT gt, count(*) AS n,
       count(CASE WHEN a0 IS NOT NULL AND a1 IS NOT NULL AND a0 <> a1 THEN 1 END) AS n_het,
       count(CASE WHEN a0 = a1 AND a0 > 0 THEN 1 END) AS n_hom_alt,
       count(CASE WHEN phased THEN 1 END) AS n_phased,
       count(CASE WHEN a0 IS NULL OR a1 IS NULL THEN 1 END) AS n_missing,
       count(CASE WHEN a0 >= 2 OR a1 >= 2 THEN 1 END) AS n_multi
FROM typed GROUP BY gt
""")
def v_gt_structural_q(spark, sf):
    # P8 structural-genotype proof (VERDICT r1 #7): gt_alleles_expr /
    # gt_phased_expr / gt_tuple_expr classify het / hom-alt / missing /
    # multi-allelic on the array form — not string equality.
    from clinpy_spark.sources.vcf import gt_alleles_expr, gt_phased_expr, gt_tuple_expr

    k = F.col("o_orderkey") % 5
    gtraw = (
        F.when(k == 0, "0/1").when(k == 1, "1|1").when(k == 2, "0/0")
        .when(k == 3, "./.").otherwise(F.lit("1/2"))
    )
    alle = gt_alleles_expr(gtraw)
    o = _t(spark, sf, "orders").select(
        gt_tuple_expr(gtraw).alias("gt"),
        F.element_at(alle, 1).alias("a0"),
        F.element_at(alle, 2).alias("a1"),
        gt_phased_expr(gtraw).alias("phased"),
    )
    cnt = lambda c: F.count(F.when(c, 1))  # noqa: E731
    return o.groupBy("gt").agg(
        F.count("*").alias("n"),
        cnt(F.col("a0").isNotNull() & F.col("a1").isNotNull() & (F.col("a0") != F.col("a1"))).alias("n_het"),
        cnt((F.col("a0") == F.col("a1")) & (F.col("a0") > 0)).alias("n_hom_alt"),
        cnt(F.col("phased")).alias("n_phased"),
        cnt(F.col("a0").isNull() | F.col("a1").isNull()).alias("n_missing"),
        cnt((F.col("a0") >= 2) | (F.col("a1") >= 2)).alias("n_multi"),
    )




# ---------------------------------------------------------------------------
# Round-10 additions: distribution-drift monitoring (PSI / KS / chi-square),
# deterministic global shuffle export, end-to-end entity resolution, and
# approximate-FD profiling.
# ---------------------------------------------------------------------------

@q("drift_psi_value", """
WITH ref AS (SELECT event_id, value FROM events WHERE user_id % 2 = 0),
cur AS (SELECT event_id, value FROM events WHERE user_id % 2 = 1),
e AS (SELECT unnest(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS edge FROM ref),
rb AS (SELECT count(*) FILTER (r.value > e.edge) AS bin FROM ref r CROSS JOIN e GROUP BY r.event_id),
rc AS (SELECT bin, count(*) AS ref_n FROM rb GROUP BY bin),
cb AS (SELECT count(*) FILTER (c.value > e.edge) AS bin FROM cur c CROSS JOIN e GROUP BY c.event_id),
cc AS (SELECT bin, count(*) AS cur_n FROM cb GROUP BY bin),
spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
j AS (SELECT s.bin, coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
      FROM spine s LEFT JOIN rc ON s.bin = rc.bin LEFT JOIN cc ON s.bin = cc.bin),
t AS (SELECT sum(ref_n) AS tr, sum(cur_n) AS tc FROM j)
SELECT CAST(j.bin AS INT) AS bin, CAST(ref_n AS BIGINT) AS ref_n,
       CAST(cur_n AS BIGINT) AS cur_n,
       round((ref_n + 0.5) / (tr + 5.0), 6) AS ref_frac,
       round((cur_n + 0.5) / (tc + 5.0), 6) AS cur_frac,
       round(((cur_n + 0.5) / (tc + 5.0) - (ref_n + 0.5) / (tr + 5.0))
             * ln(((cur_n + 0.5) / (tc + 5.0)) / ((ref_n + 0.5) / (tr + 5.0))), 6)
         AS psi_contrib
FROM j CROSS JOIN t ORDER BY bin
""")
def drift_psi_value_q(spark, sf):
    # Population Stability Index (operators/drift.py psi_table): bins =
    # exact deciles of the REFERENCE cohort (even user ids), compared
    # against the current cohort (odd user ids). Laplace-smoothed
    # (+0.5/bin) so the formula is engine-portable with no epsilon
    # clamp; the oracle recomputes edges with quantile_cont and the
    # whole per-bin table. Monitoring primitive for accepting a new
    # data batch into a training mixture.
    from clinpy_spark.operators.drift import psi_table

    ev = _t(spark, sf, "events")
    ref = ev.filter(F.col("user_id") % 2 == 0)
    cur = ev.filter(F.col("user_id") % 2 == 1)
    return psi_table(ref, cur, "value", n_bins=10)


@q("drift_ks_value", """
WITH t AS (
  SELECT value AS v,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ca,
         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS cb
  FROM events),
pv AS (SELECT v, sum(ca) AS na, sum(cb) AS nb FROM t GROUP BY v),
c AS (SELECT sum(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM pv),
tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM t)
SELECT round(max(abs(CAST(cuma AS DOUBLE) / ta - CAST(cumb AS DOUBLE) / tb)), 6) AS ks_d,
       CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
FROM c CROSS JOIN tot
""")
def drift_ks_value_q(spark, sf):
    # Exact two-sample Kolmogorov-Smirnov D (operators/drift.py):
    # max |ECDF_a - ECDF_b| over pooled distinct values. The ordered
    # cumulative window runs over the per-distinct-value aggregate, not
    # the corpus (quantize= is the unbounded-domain scale path).
    from clinpy_spark.operators.drift import ks_two_sample

    ev = _t(spark, sf, "events")
    return ks_two_sample(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "value",
    )


@q("drift_chi2_lang", u"""
WITH base AS (
  SELECT coalesce(CAST(source AS VARCHAR), '␀') AS s,
         coalesce(CAST(lang AS VARCHAR), '␀') AS c
  FROM documents),
cells AS (SELECT s, c, count(*) AS o FROM base GROUP BY s, c),
rt AS (SELECT s, sum(o) AS rt FROM cells GROUP BY s),
ct AS (SELECT c, sum(o) AS ct FROM cells GROUP BY c),
n AS (SELECT sum(o) AS nn FROM cells),
f AS (SELECT rt.s, ct.c, coalesce(cells.o, 0) AS o,
             rt.rt * ct.ct / CAST(n.nn AS DOUBLE) AS e
      FROM rt CROSS JOIN ct
      LEFT JOIN cells ON cells.s = rt.s AND cells.c = ct.c
      CROSS JOIN n)
SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
       CAST((count(DISTINCT s) - 1) * (count(DISTINCT c) - 1) AS INT) AS dof,
       CAST((SELECT nn FROM n) AS BIGINT) AS n
FROM f
""")
def drift_chi2_lang_q(spark, sf):
    # Pearson chi-square over the (source x lang) contingency table
    # (operators/drift.py chi2_drift) — categorical-mix drift between
    # corpus sources; one groupBy plus broadcast marginals.
    from clinpy_spark.operators.drift import chi2_drift

    return chi2_drift(_t(spark, sf, "documents"), "source", "lang")


@q("shuffle_shards", """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|shuf1'), 1, 8))::BIGINT AS hv
  FROM documents)
SELECT doc_id, CAST(hv % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS INT) AS pos
FROM h
""")
def shuffle_shards_q(spark, sf):
    # Deterministic global shuffle (operators/sample.py shuffle_assign):
    # the reproducible replacement for orderBy(rand()) when exporting
    # training shards — same md5 coordinate as the samplers, so the
    # permutation is identical on any cluster size and auditable by the
    # oracle. Window is partitioned BY SHARD (independent sorts, no
    # global order).
    from clinpy_spark.operators.sample import shuffle_assign

    docs = _t(spark, sf, "documents").select("doc_id")
    return shuffle_assign(docs, "doc_id", n_shards=8, seed=1) \
        .select("doc_id", "shard", "pos")


@q("er_resolve_parts", """
WITH RECURSIVE
names AS (SELECT p_partkey AS id, p_name AS nm, p_retailprice AS sc FROM part),
pairs AS (
  SELECT a.id AS ia, b.id AS ib FROM names a JOIN names b ON a.id < b.id
  WHERE levenshtein(a.nm, b.nm) <= 2),
edges AS (SELECT ia AS src, ib AS dst FROM pairs UNION SELECT ib, ia FROM pairs),
r(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src),
lab AS (SELECT src AS id, least(src, min(dst)) AS cluster_id FROM r GROUP BY src),
rk AS (
  SELECT lab.cluster_id, lab.id, names.nm,
         row_number() OVER (PARTITION BY lab.cluster_id
                            ORDER BY names.sc DESC, lab.id) AS rk
  FROM lab JOIN names ON lab.id = names.id)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
       max(CASE WHEN rk = 1 THEN id END) AS canon_id,
       max(CASE WHEN rk = 1 THEN nm END) AS canon_text
FROM rk GROUP BY cluster_id HAVING count(*) > 1
""")
def er_resolve_parts_q(spark, sf):
    # End-to-end entity resolution (operators/fuzzy.py
    # resolve_entities): length-banded fuzzy match -> connected
    # components -> keep-best survivorship (highest retailprice, ties
    # to lowest key). Oracle rebuilds the same clusters from UNBLOCKED
    # all-pairs levenshtein plus a recursive-CTE closure — both the
    # blocking losslessness and the canonical election are hash-proven.
    from clinpy_spark.operators.fuzzy import resolve_entities

    part = _t(spark, sf, "part").select("p_partkey", "p_name", "p_retailprice")
    return resolve_entities(part, "p_partkey", "p_name", "p_retailprice",
                            max_edits=2)


@q("q_fd_audit", """
SELECT 'p_partkey' AS lhs, 'p_brand' AS rhs, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_violating,
       count(*) FILTER (nd > 1) = 0 AS holds
FROM (SELECT p_partkey, count(DISTINCT p_brand) AS nd FROM part GROUP BY p_partkey)
UNION ALL
SELECT 'p_brand', 'p_type', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (nd > 1) AS BIGINT), count(*) FILTER (nd > 1) = 0
FROM (SELECT p_brand, count(DISTINCT p_type) AS nd FROM part GROUP BY p_brand)
UNION ALL
SELECT 'p_type', 'p_size', CAST(count(*) AS BIGINT),
       CAST(count(*) FILTER (nd > 1) AS BIGINT), count(*) FILTER (nd > 1) = 0
FROM (SELECT p_type, count(DISTINCT p_size) AS nd FROM part GROUP BY p_type)
""")
def q_fd_audit_q(spark, sf):
    # Approximate-functional-dependency audit (operators/quality.py
    # fd_audit): which columns determine which — the key column
    # p_partkey -> p_brand holds exactly, the attribute pairs violate.
    # The schema-profiling primitive for choosing safe
    # normalization/join keys; g3 error = n_violating / n_groups.
    from clinpy_spark.operators.quality import fd_audit

    return fd_audit(_t(spark, sf, "part"),
                    [("p_partkey", "p_brand"), ("p_brand", "p_type"),
                     ("p_type", "p_size")])




@q("sim_knn_graph", """
WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300),
s AS (
  SELECT a.vec_id AS qa, b.vec_id AS qb,
         list_cosine_similarity(a.v, b.v) AS sim
  FROM emb a, emb b WHERE a.vec_id <> b.vec_id),
r AS (
  SELECT qa, qb, sim,
         row_number() OVER (PARTITION BY qa ORDER BY sim DESC, qb) AS rk
  FROM s),
top AS (SELECT qa, qb, sim FROM r WHERE rk <= 4),
mut AS (SELECT t.qa, t.qb, t.sim FROM top t JOIN top o ON t.qa = o.qb AND t.qb = o.qa)
SELECT qa AS src, qb AS dst, round(sim, 4) AS cosine_sim FROM mut WHERE qa < qb
""")
def sim_knn_graph_q(spark, sf):
    # Mutual-kNN graph (operators/similarity.py knn_graph): undirected
    # edges kept only when BOTH endpoints rank each other top-k — the
    # conservative near-dup grouping substrate. Exact method on a
    # bounded slice so the oracle re-ranks all pairs and re-applies the
    # mutuality filter; method='lsh' is the bucketed 100 TB path (same
    # downstream contract, recall-gated like the other ANN emitters).
    from clinpy_spark.operators.similarity import knn_graph

    # limit(300): plan-level bound on the exact-method slice (row-wise
    # no-op, ids unique) — proves the all-pairs scorer's broadcast side
    # constant-row to the shape audit.
    emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 300).limit(300)
    return knn_graph(emb, k=4, mutual=True, method="exact")




@q("drift_psi_by_type", """
WITH ref AS (SELECT event_id, event_type AS g, value FROM events WHERE user_id % 2 = 0),
cur AS (SELECT event_id, event_type AS g, value FROM events WHERE user_id % 2 = 1),
e AS (SELECT g, unnest(quantile_cont(value, [0.2,0.4,0.6,0.8])) AS edge FROM ref GROUP BY g),
rb AS (SELECT r.g, count(*) FILTER (r.value > e.edge) AS bin
       FROM ref r JOIN e ON r.g = e.g GROUP BY r.g, r.event_id),
rc AS (SELECT g, bin, count(*) AS ref_n FROM rb GROUP BY g, bin),
cb AS (SELECT c.g, count(*) FILTER (c.value > e.edge) AS bin
       FROM cur c JOIN e ON c.g = e.g GROUP BY c.g, c.event_id),
cc AS (SELECT g, bin, count(*) AS cur_n FROM cb GROUP BY g, bin),
spine AS (SELECT DISTINCT g, unnest(generate_series(0, 4)) AS bin FROM e),
j AS (SELECT s.g, s.bin, coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
      FROM spine s LEFT JOIN rc ON s.g = rc.g AND s.bin = rc.bin
      LEFT JOIN cc ON s.g = cc.g AND s.bin = cc.bin),
t AS (SELECT g, ref_n, cur_n,
             sum(ref_n) OVER (PARTITION BY g) AS tr,
             sum(cur_n) OVER (PARTITION BY g) AS tc FROM j)
SELECT g AS event_type,
       round(sum(((cur_n + 0.5) / (tc + 2.5) - (ref_n + 0.5) / (tr + 2.5))
                 * ln(((cur_n + 0.5) / (tc + 2.5)) / ((ref_n + 0.5) / (tr + 2.5)))), 6) AS psi,
       CAST(max(tr) AS BIGINT) AS ref_n, CAST(max(tc) AS BIGINT) AS cur_n
FROM t GROUP BY g
""")
def drift_psi_by_type_q(spark, sf):
    # Segmented drift (operators/drift.py psi_by_group): PSI of every
    # event type's value distribution in ONE pass — per-group decile
    # edges from a grouped percentile aggregate rejoined by key (no
    # driver collect, no cross join), so 10k segments cost the same
    # plan as one. The monitoring query a mixture pipeline runs per
    # source/language segment.
    from clinpy_spark.operators.drift import psi_by_group

    ev = _t(spark, sf, "events")
    return psi_by_group(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "value", "event_type", n_bins=5)




@q("q_skew_report", """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
r AS (SELECT n, row_number() OVER (ORDER BY n ASC, user_id ASC) AS i FROM c)
SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(n) AS BIGINT) AS max_n,
       round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top1_frac,
       round(quantile_cont(n, 0.5), 6) AS p50_n,
       round(quantile_cont(n, 0.99), 6) AS p99_n,
       round((2 * sum(i * n) - (count(*) + 1) * sum(n))
             / (count(*) * CAST(sum(n) AS DOUBLE)), 6) AS gini
FROM r
""")
def q_skew_report_q(spark, sf):
    # Shuffle-key skew diagnostic (operators/quality.py skew_report):
    # per-key counts -> concentration aggregates (max share, count
    # percentiles, Gini) over the key-cardinality-sized table — the
    # pre-flight numbers that decide whether a join key needs salting,
    # next to skew.py's runtime hot-key probe.
    from clinpy_spark.operators.quality import skew_report

    return skew_report(_t(spark, sf, "events"), ["user_id"])


@q("q_benford_price", """
WITH d AS (
  SELECT regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]') AS dg
  FROM orders),
p AS (SELECT dg, count(*) AS n FROM d WHERE dg <> '' GROUP BY dg),
t AS (SELECT sum(n) AS tt FROM p)
SELECT CAST(dg AS INT) AS digit, CAST(n AS BIGINT) AS n,
       round(n / CAST(tt AS DOUBLE), 6) AS frac,
       round(log10(1.0 + 1.0 / CAST(dg AS INT)), 6) AS benford_frac,
       round(abs(n / CAST(tt AS DOUBLE) - log10(1.0 + 1.0 / CAST(dg AS INT))), 6) AS abs_dev
FROM p CROSS JOIN t ORDER BY digit
""")
def q_benford_price_q(spark, sf):
    # Benford first-digit audit (operators/quality.py benford_digits):
    # the fabricated/truncated-numeric-data check over order totals.
    # Digit = first [1-9] char of the value's string form (portable
    # across the full double range, r10 advice); expected share
    # log10(1 + 1/d), deviations rounded to the repo's 6-decimal
    # convention.
    from clinpy_spark.operators.quality import benford_digits

    return benford_digits(_t(spark, sf, "orders"), "o_totalprice")


# ---------------------------------------------------------------------------
# Survival analysis (operators/survival.py) — Kaplan-Meier curves and the
# log-rank test over a deterministic time-to-event cohort derived from
# orders: follow-up days from the portable md5 hash of the order key,
# administrative censoring at the 1998-08-02 study end, cohort = order
# priority. The clinical readout a clinpy project runs on its sample
# store (reference project.py cohorts).
# ---------------------------------------------------------------------------

_SURV_OBS_SQL = """
  SELECT o_orderpriority AS priority,
         LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
"""


def _surv_obs(spark, sf) -> DataFrame:
    """(priority, duration, evt): deterministic survival cohort; the
    SQL twin is _SURV_OBS_SQL (portable first-8-md5-hex hash)."""
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    return o.select(
        F.col("o_orderpriority").alias("priority"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
    )


@q("surv_km_curve", f"""
WITH obs AS ({_SURV_OBS_SQL}),
agg AS (SELECT priority, duration,
               CAST(sum(evt) AS BIGINT) AS d,
               CAST(sum(1 - evt) AS BIGINT) AS c
        FROM obs GROUP BY priority, duration),
w AS (SELECT *,
        sum(d + c) OVER (PARTITION BY priority) AS tot,
        coalesce(sum(d + c) OVER (PARTITION BY priority ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM agg),
r AS (SELECT priority, duration, d, c,
             CAST(tot - prev AS BIGINT) AS n_risk FROM w),
s AS (SELECT *,
        sum(CASE WHEN d < n_risk
                 THEN ln(1 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS lsum,
        max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS zf
      FROM r)
SELECT priority, duration, n_risk, d AS n_events, c AS n_censored,
       CASE WHEN zf = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS survival
FROM s
""")
def surv_km_curve_q(spark, sf):
    # Kaplan-Meier product-limit curve per cohort (operators/
    # survival.py km_curve): one groupBy to the per-(cohort, time)
    # table, then ordered windows over that bounded grid — the survival
    # probability after each observed day, censoring handled exactly.
    from clinpy_spark.operators.survival import km_curve

    return km_curve(_surv_obs(spark, sf), "duration", "evt", "priority")


_SURV_OBS3_SQL = """
  SELECT o_orderpriority AS priority,
         LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '5-LOW'))
"""


def _surv_obs3(spark, sf) -> DataFrame:
    """Three-arm variant of _surv_obs (SQL twin _SURV_OBS3_SQL)."""
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    return o.select(
        F.col("o_orderpriority").alias("priority"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
    )


@q("surv_logrank_k", f"""
WITH obs AS ({_SURV_OBS3_SQL}),
pt AS (SELECT priority AS g, duration AS t,
              CAST(sum(evt) AS BIGINT) AS d,
              CAST(count(*) AS BIGINT) AS r
       FROM obs GROUP BY priority, duration),
p0 AS (SELECT t, CAST(sum(d) AS BIGINT) AS dt,
              CAST(sum(r) AS BIGINT) AS rt
       FROM pt GROUP BY t),
p1 AS (SELECT t, dt,
         sum(rt) OVER () - coalesce(sum(rt) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nt
       FROM p0),
pooled AS (SELECT t, dt, CAST(nt AS BIGINT) AS nt FROM p1 WHERE dt > 0),
grid AS (SELECT p.t, p.dt, p.nt, gs.g
         FROM pooled p CROSS JOIN (SELECT DISTINCT g FROM pt) gs),
u AS (
  SELECT g, t, r, 1 AS is_real, NULL AS dt, NULL AS nt FROM pt
  UNION ALL
  SELECT g, t, 0 AS r, 0 AS is_real, dt, nt FROM grid),
w AS (SELECT g, dt, nt,
        sum(r) OVER (PARTITION BY g) AS ngt,
        coalesce(sum(r) OVER (PARTITION BY g ORDER BY t, is_real
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS consumed,
        is_real
      FROM u),
probe AS (SELECT g, dt, nt, CAST(ngt - consumed AS BIGINT) AS ng
          FROM w WHERE is_real = 0),
eg AS (SELECT g,
         sum(dt * (CAST(ng AS DOUBLE) / nt)) AS e,
         sum(CASE WHEN nt > 1 THEN dt * (CAST(ng AS DOUBLE) / nt)
               * (1 - CAST(ng AS DOUBLE) / nt) * (nt - dt) / (nt - 1)
             ELSE 0 END) AS v
       FROM probe GROUP BY g),
og AS (SELECT g, CAST(sum(d) AS BIGINT) AS o, CAST(sum(r) AS BIGINT) AS n
       FROM pt GROUP BY g),
j AS (SELECT og.g, og.n, og.o, eg.e, eg.v FROM eg JOIN og ON eg.g = og.g)
SELECT g AS priority, n, o AS observed, round(e, 6) AS expected,
       round(v, 6) AS var_marginal,
       round(sum(CASE WHEN e > 0 THEN (o - e) * (o - e) / e ELSE 0 END)
             OVER (), 6) AS chi2,
       CAST(count(*) OVER () - 1 AS INT) AS df
FROM j
""")
def surv_logrank_k_q(spark, sf):
    # k-arm log-rank test (operators/survival.py logrank_k) over the
    # three-priority cohort: per-arm observed/expected events and
    # marginal hypergeometric variance at the pooled event times, plus
    # the pooled k-1-df score chi-square — do urgent, medium, and low
    # priority orders share a survival curve? Generalizes surv_logrank
    # to the reference's k-ary cohort model (clinpy project.py:60-66).
    from clinpy_spark.operators.survival import logrank_k

    return logrank_k(_surv_obs3(spark, sf), "duration", "evt", "priority")



@q("surv_logrank", f"""
WITH obs AS ({_SURV_OBS_SQL}),
per_t AS (SELECT duration,
                 sum(CASE WHEN priority = '1-URGENT' THEN evt ELSE 0 END) AS da,
                 sum(CASE WHEN priority = '1-URGENT' THEN 1 ELSE 0 END) AS ra,
                 sum(evt) AS d, count(*) AS r
          FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(ra) OVER () - coalesce(sum(ra) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
        sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM per_t),
f AS (SELECT * FROM w WHERE d > 0),
g AS (SELECT CAST(sum(da) AS BIGINT) AS observed_a,
             sum(d * (CAST(na AS DOUBLE) / n)) AS ea,
             sum(CASE WHEN n > 1 THEN d * (CAST(na AS DOUBLE) / n)
                   * (1 - CAST(na AS DOUBLE) / n) * (n - d) / (n - 1)
                 ELSE 0 END) AS v
      FROM f)
SELECT round((observed_a - ea) * (observed_a - ea) / v, 6) AS chi2,
       observed_a, round(ea, 6) AS expected_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '1-URGENT') AS n_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '5-LOW') AS n_b
FROM g
""")
def surv_logrank_q(spark, sf):
    # Log-rank (Mantel-Cox) two-cohort test (operators/survival.py
    # logrank_test): hypergeometric expectation and variance at each
    # pooled event time, summed to one chi-square row — do the urgent
    # and low-priority cohorts share a survival curve?
    from clinpy_spark.operators.survival import logrank_test

    return logrank_test(
        _surv_obs(spark, sf), "duration", "evt", "priority",
        "1-URGENT", "5-LOW")


# ---------------------------------------------------------------------------
# Population-genetics association (operators/assoc.py) over a
# deterministic genotype table: variant = part-key bucket, two alleles
# drawn independently from the portable hash (so the cohort IS near
# Hardy-Weinberg equilibrium and the chi-square distribution is
# realistic), phenotype = an independent hash bit.
# ---------------------------------------------------------------------------

_GENO_SQL = """
  SELECT l_partkey % 400 AS variant,
         (CASE WHEN h % 100 < 30 THEN 1 ELSE 0 END)
         + (CASE WHEN (h // 100) % 100 < 30 THEN 1 ELSE 0 END) AS gt,
         (h // 10000) % 2 = 1 AS is_case
  FROM (SELECT l_partkey,
               ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
                                        AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM lineitem)
"""


def _geno(spark, sf) -> DataFrame:
    """(variant, gt, is_case): deterministic HWE-ish genotype table;
    SQL twin _GENO_SQL."""
    li = _t(spark, sf, "lineitem")
    h = F.conv(
        F.substring(
            F.md5((F.col("l_orderkey") * 8 + F.col("l_linenumber"))
                  .cast("string")),
            1, 8),
        16, 10,
    ).cast("long")
    a1 = F.when(h % 100 < 30, 1).otherwise(0)
    a2 = F.when((h / F.lit(100)).cast("long") % 100 < 30, 1).otherwise(0)
    return li.select(
        (F.col("l_partkey") % 400).alias("variant"),
        (a1 + a2).alias("gt"),
        (((h / F.lit(10000)).cast("long") % 2) == 1).alias("is_case"),
    )


@q("gx_hwe_audit", f"""
WITH g AS ({_GENO_SQL}),
pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_ref,
              CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_het,
              CAST(sum(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hom_alt
       FROM g GROUP BY variant),
qq AS (SELECT *, (2 * n_hom_alt + n_het) / (2.0 * n) AS q FROM pv)
SELECT variant, n, n_hom_ref, n_het, n_hom_alt,
       round(q, 6) AS alt_freq,
       CASE WHEN q = 0 OR q = 1 THEN 0.0
            ELSE round(
              (n_hom_ref - n * (1 - q) * (1 - q)) * (n_hom_ref - n * (1 - q) * (1 - q)) / (n * (1 - q) * (1 - q))
              + (n_het - n * 2 * (1 - q) * q) * (n_het - n * 2 * (1 - q) * q) / (n * 2 * (1 - q) * q)
              + (n_hom_alt - n * q * q) * (n_hom_alt - n * q * q) / (n * q * q), 6)
       END AS chi2
FROM qq
""")
def gx_hwe_audit_q(spark, sf):
    # Hardy-Weinberg equilibrium audit per variant (operators/assoc.py
    # hwe_chi2): the standard genotyping-QC gate as ONE conditional-sum
    # groupBy on the variant key — observed genotype classes vs
    # p^2/2pq/q^2, monomorphic variants exactly 0.
    from clinpy_spark.operators.assoc import hwe_chi2

    return hwe_chi2(_geno(spark, sf), "variant", "gt")


@q("gx_allelic_assoc", f"""
WITH g AS ({_GENO_SQL}),
pv AS (SELECT variant,
              CAST(sum(CASE WHEN is_case THEN gt ELSE 0 END) AS BIGINT) AS case_alt,
              CAST(sum(CASE WHEN is_case THEN 2 - gt ELSE 0 END) AS BIGINT) AS case_ref,
              CAST(sum(CASE WHEN NOT is_case THEN gt ELSE 0 END) AS BIGINT) AS ctrl_alt,
              CAST(sum(CASE WHEN NOT is_case THEN 2 - gt ELSE 0 END) AS BIGINT) AS ctrl_ref
       FROM g GROUP BY variant),
d AS (SELECT *, CAST(case_alt AS DOUBLE) AS a, CAST(case_ref AS DOUBLE) AS b,
             CAST(ctrl_alt AS DOUBLE) AS c, CAST(ctrl_ref AS DOUBLE) AS dd
      FROM pv)
SELECT variant, case_alt, case_ref, ctrl_alt, ctrl_ref,
       CASE WHEN (a + b) * (c + dd) * (a + c) * (b + dd) = 0 THEN 0.0
            ELSE round((a + b + c + dd) * (a * dd - b * c) * (a * dd - b * c)
                       / ((a + b) * (c + dd) * (a + c) * (b + dd)), 6)
       END AS chi2
FROM d
""")
def gx_allelic_assoc_q(spark, sf):
    # Case/control allelic association per variant (operators/assoc.py
    # allelic_assoc_chi2): the 2x2 allele-count Pearson chi-square —
    # one grouped pass, margins as conditional sums (no contingency
    # cross join), doubles so the margin products never overflow.
    from clinpy_spark.operators.assoc import allelic_assoc_chi2

    return allelic_assoc_chi2(_geno(spark, sf), "variant", "gt", "is_case")


# A dense deterministic genotype GRID (every customer genotyped at 200
# variants, two hash-drawn alleles whose frequency varies by variant:
# thr = 2 + (variant % 10) * 5 percent) for the multi-variant statistics
# — LD needs aligned genotype vectors, burden needs within-gene variant
# sets with a rare tail. chrom = variant // 50, gene = variant // 20,
# phenotype = an independent hash bit of the customer key.

_GRID_GENO_SQL = """
  SELECT c_custkey,
         variant,
         variant // 50 AS chrom,
         variant AS pos,
         variant // 20 AS gene,
         (CASE WHEN h % 100 < 2 + (variant % 10) * 5 THEN 1 ELSE 0 END)
         + (CASE WHEN (h // 100) % 100 < 2 + (variant % 10) * 5
            THEN 1 ELSE 0 END) AS gt,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % 2 = 1 AS is_case
  FROM (SELECT c_custkey, v.variant,
               ('0x' || substr(md5(CAST(c_custkey * 200 + v.variant
                                        AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM customer
        CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS variant) v)
"""


def _grid_geno(spark, sf) -> DataFrame:
    """(c_custkey, variant, chrom, pos, gene, gt, is_case): the dense
    genotype grid; SQL twin _GRID_GENO_SQL. The 200-variant range side
    is broadcast — the 'cross join' is a constant-width row expansion,
    not a data-sized product.

    The customer side is spread across cores first: a single small
    parquet file scans as ONE task, and the x200 expansion is narrow,
    so the whole 2-md5-per-cell grid (3M cells at sf0.1) was computed
    single-threaded — measured 5.4s noop, ~32x the per-core work. The
    repartition moves only the 8-byte keys and is a no-op on real
    multi-file tables (ensure_min_parallelism)."""
    from clinpy_spark.session import ensure_min_parallelism

    cust = ensure_min_parallelism(_t(spark, sf, "customer").select("c_custkey"))
    variants = spark.range(200).select(F.col("id").alias("variant"))
    g = cust.crossJoin(F.broadcast(variants))
    h = F.conv(
        F.substring(
            F.md5((F.col("c_custkey") * 200 + F.col("variant"))
                  .cast("string")),
            1, 8),
        16, 10,
    ).cast("long")
    thr = 2 + (F.col("variant") % 10) * 5
    a1 = F.when(h % 100 < thr, 1).otherwise(0)
    a2 = F.when((h / F.lit(100)).cast("long") % 100 < thr, 1).otherwise(0)
    hc = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return g.select(
        "c_custkey",
        "variant",
        (F.col("variant") / 50).cast("long").alias("chrom"),
        F.col("variant").alias("pos"),
        (F.col("variant") / 20).cast("long").alias("gene"),
        (a1 + a2).alias("gt"),
        (hc % 2 == 1).alias("is_case"),
    )


@q("gx_ld_r2", f"""
WITH g AS ({_GRID_GENO_SQL}),
st AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(gt) AS BIGINT) AS sx,
              CAST(sum(gt * gt) AS BIGINT) AS sxx
       FROM g GROUP BY variant),
vm AS (SELECT DISTINCT variant, chrom, pos FROM g),
cand AS (SELECT a.variant AS vx, b.variant AS vy
         FROM vm a JOIN vm b
           ON a.chrom = b.chrom AND a.variant < b.variant
          AND abs(a.pos - b.pos) <= 5),
cr AS (SELECT c.vx, c.vy, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(g1.gt * g2.gt) AS BIGINT) AS sxy
       FROM cand c
       JOIN g g1 ON g1.variant = c.vx
       JOIN g g2 ON g2.variant = c.vy AND g2.c_custkey = g1.c_custkey
       GROUP BY c.vx, c.vy)
SELECT cr.vx, cr.vy, cr.n,
       CASE WHEN (CAST(cr.n AS DOUBLE) * s1.sxx - s1.sx * s1.sx) = 0
              OR (CAST(cr.n AS DOUBLE) * s2.sxx - s2.sx * s2.sx) = 0
            THEN 0.0
            ELSE round(
              (CAST(cr.n AS DOUBLE) * cr.sxy - s1.sx * s2.sx)
              * (CAST(cr.n AS DOUBLE) * cr.sxy - s1.sx * s2.sx)
              / ((CAST(cr.n AS DOUBLE) * s1.sxx - s1.sx * s1.sx)
                 * (CAST(cr.n AS DOUBLE) * s2.sxx - s2.sx * s2.sx)), 6)
       END AS r2
FROM cr JOIN st s1 ON s1.variant = cr.vx JOIN st s2 ON s2.variant = cr.vy
""")
def gx_ld_r2_q(spark, sf):
    # Linkage-disequilibrium r^2 (operators/assoc.py ld_r2): banded
    # self-join of the DISTINCT variant map generates same-chromosome
    # pairs within 5 positions (never |variants|^2); cross-moments join
    # genotypes to the candidate list FIRST, then to the second copy
    # keyed by (sample, variant) — the genotype table is never
    # self-joined on the sample key. Moment sums exact integers, final
    # ratio in mirrored double order (no sqrt).
    from clinpy_spark.operators.assoc import ld_r2

    # materialize=False: the driver/bench contract builds a fresh plan
    # per run, so a lineage-cut would re-checkpoint the grid every call
    # (measured 2.6x slower at sf0.1); the knob pays only when a caller
    # holds ONE DataFrame and reuses it across actions.
    return ld_r2(
        _grid_geno(spark, sf), "variant", "c_custkey", "gt",
        "chrom", "pos", max_dist=5)


@q("gx_burden_test", f"""
WITH g AS ({_GRID_GENO_SQL}),
freq AS (SELECT variant, sum(gt) / (2.0 * count(*)) AS af
         FROM g GROUP BY variant),
rare AS (SELECT variant FROM freq WHERE af < 0.05),
carr AS (SELECT gene, c_custkey, is_case,
                max(CASE WHEN gt > 0 THEN 1 ELSE 0 END) AS carry,
                count(*) AS nv
         FROM g WHERE variant IN (SELECT variant FROM rare)
         GROUP BY gene, c_custkey, is_case),
pg AS (SELECT gene, CAST(max(nv) AS BIGINT) AS n_rare_variants,
              CAST(sum(CASE WHEN is_case AND carry = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS case_carriers,
              CAST(sum(CASE WHEN NOT is_case AND carry = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS ctrl_carriers
       FROM carr GROUP BY gene),
tot AS (SELECT CAST(sum(CASE WHEN is_case THEN 1 ELSE 0 END) AS BIGINT)
                 AS case_total,
               CAST(sum(CASE WHEN NOT is_case THEN 1 ELSE 0 END) AS BIGINT)
                 AS ctrl_total
        FROM (SELECT DISTINCT c_custkey, is_case FROM g)),
d AS (SELECT pg.*, tot.case_total, tot.ctrl_total,
             CAST(case_carriers AS DOUBLE) AS a,
             CAST(case_total - case_carriers AS DOUBLE) AS b,
             CAST(ctrl_carriers AS DOUBLE) AS c,
             CAST(ctrl_total - ctrl_carriers AS DOUBLE) AS dd
      FROM pg CROSS JOIN tot)
SELECT gene, n_rare_variants, case_carriers, case_total,
       ctrl_carriers, ctrl_total,
       CASE WHEN (a + b) * (c + dd) * (a + c) * (b + dd) = 0 THEN 0.0
            ELSE round((a + b + c + dd) * (a * dd - b * c) * (a * dd - b * c)
                       / ((a + b) * (c + dd) * (a + c) * (b + dd)), 6)
       END AS chi2
FROM d
""")
def gx_burden_test_q(spark, sf):
    # Rare-variant gene burden test (operators/assoc.py burden_test):
    # "rare" decided FROM the cohort (variant-frequency pass), carrier
    # status per (gene, sample) via a semi-join + grouped max, then the
    # 2x2 carrier-vs-phenotype chi-square per gene with totals from one
    # broadcast row. Three variant/gene-keyed shuffles, nothing
    # corpus x corpus.
    from clinpy_spark.operators.assoc import burden_test

    return burden_test(
        _grid_geno(spark, sf), "variant", "c_custkey", "gt",
        "gene", "is_case", max_freq=0.05)


@q("surv_na_cumhaz", f"""
WITH obs AS ({_SURV_OBS_SQL}),
agg AS (SELECT priority, duration,
               CAST(sum(evt) AS BIGINT) AS d,
               CAST(sum(1 - evt) AS BIGINT) AS c
        FROM obs GROUP BY priority, duration),
w AS (SELECT *,
        sum(d + c) OVER (PARTITION BY priority) AS tot,
        coalesce(sum(d + c) OVER (PARTITION BY priority ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM agg),
r AS (SELECT priority, duration, d,
             CAST(tot - prev AS BIGINT) AS n_risk FROM w)
SELECT priority, duration, n_risk, d AS n_events,
       round(sum(CAST(d AS DOUBLE) / n_risk)
             OVER (PARTITION BY priority ORDER BY duration), 6) AS cumhaz
FROM r
""")
def surv_na_cumhaz_q(spark, sf):
    # Nelson-Aalen cumulative hazard (operators/survival.py
    # nelson_aalen): the additive twin of the KM product — sum of d/n
    # over the per-time grid in ascending time order, so the double
    # accumulation order is fixed in both engines.
    from clinpy_spark.operators.survival import nelson_aalen

    return nelson_aalen(_surv_obs(spark, sf), "duration", "evt", "priority")


@q("gx_roh_runs", f"""
WITH g AS ({_GRID_GENO_SQL}),
r AS (SELECT c_custkey, chrom, pos, gt,
             row_number() OVER (PARTITION BY c_custkey, chrom
                                ORDER BY pos) AS rn
      FROM g),
h AS (SELECT *, rn - row_number() OVER (PARTITION BY c_custkey, chrom
                                        ORDER BY pos) AS grp
      FROM r WHERE gt <> 1)
SELECT c_custkey AS sample, chrom,
       min(pos) AS start_pos, max(pos) AS end_pos,
       CAST(count(*) AS BIGINT) AS n_sites
FROM h GROUP BY c_custkey, chrom, grp HAVING count(*) >= 8
""")
def gx_roh_runs_q(spark, sf):
    # Runs of homozygosity (operators/assoc.py roh_runs): the
    # autozygosity screen as gaps-and-islands over the genotype grid —
    # site rank minus homozygous-site rank is constant within a run;
    # two windows + one groupBy, all partitioned by (sample, chrom).
    from clinpy_spark.operators.assoc import roh_runs

    return roh_runs(
        _grid_geno(spark, sf), "c_custkey", "chrom", "pos", "gt",
        min_sites=8)


@q("dx_diff_expression", """
WITH x AS (
  SELECT c_custkey, g.gene,
         ('0x' || substr(md5(CAST(c_custkey * 10 + g.gene AS VARCHAR)),
                         1, 8))::BIGINT % 1000
         + CASE WHEN ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                     1, 8))::BIGINT % 2 = 1
                 AND g.gene = 3 THEN 50 ELSE 0 END AS reads,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
           % 2 = 1 AS is_case
  FROM customer
  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS gene) g),
s AS (SELECT gene,
             CAST(count(*) FILTER (is_case) AS BIGINT) AS nc,
             CAST(count(*) FILTER (NOT is_case) AS BIGINT) AS nk,
             CAST(sum(reads) FILTER (is_case) AS BIGINT) AS sc,
             CAST(sum(reads) FILTER (NOT is_case) AS BIGINT) AS sk,
             CAST(sum(reads * reads) FILTER (is_case) AS BIGINT) AS ssc,
             CAST(sum(reads * reads) FILTER (NOT is_case) AS BIGINT) AS ssk
      FROM x GROUP BY gene)
SELECT gene, nc AS n_case, nk AS n_ctrl,
       round(CAST(sc AS DOUBLE) / nc, 6) AS mean_case,
       round(CAST(sk AS DOUBLE) / nk, 6) AS mean_ctrl,
       round((CAST(sc AS DOUBLE) / nc - CAST(sk AS DOUBLE) / nk)
             / sqrt(((CAST(ssc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / nc)
                     / (nc - 1)) / nc
                    + ((CAST(ssk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / nk)
                       / (nk - 1)) / nk), 6) AS welch_t
FROM s
""")
def dx_diff_expression_q(spark, sf):
    # Differential expression: per-gene Welch t between case and
    # control cohorts over a deterministic read-count matrix (gene 3
    # carries a planted +50 case shift). Moments are EXACT integer
    # sums (no var_samp — its online accumulation is summation-order
    # dependent); the t statistic is one fixed-order double expression,
    # sqrt included (IEEE-exact), so the oracle matches bit-for-bit.
    # One conditional-sum groupBy keyed by gene — the canonical
    # RNA-seq readout a clinpy expression assay feeds.
    from clinpy_spark.session import ensure_min_parallelism

    # spread the 1-task single-file customer scan before the md5-per-cell
    # expansion (no-op on multi-file tables)
    cust = ensure_min_parallelism(_t(spark, sf, "customer").select("c_custkey"))
    genes = spark.range(10).select(F.col("id").alias("gene"))
    x = cust.crossJoin(F.broadcast(genes))
    h = F.conv(
        F.substring(
            F.md5((F.col("c_custkey") * 10 + F.col("gene")).cast("string")),
            1, 8),
        16, 10,
    ).cast("long")
    hc = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    is_case = hc % 2 == 1
    reads = h % 1000 + F.when(is_case & (F.col("gene") == 3), 50).otherwise(0)
    x = x.select("gene", reads.alias("reads"), is_case.alias("is_case"))
    ic, ik = F.col("is_case"), ~F.col("is_case")
    s = x.groupBy("gene").agg(
        F.count(F.when(ic, 1)).alias("nc"),
        F.count(F.when(ik, 1)).alias("nk"),
        F.sum(F.when(ic, F.col("reads")).otherwise(0)).alias("sc"),
        F.sum(F.when(ik, F.col("reads")).otherwise(0)).alias("sk"),
        F.sum(F.when(ic, F.col("reads") * F.col("reads")).otherwise(0))
        .alias("ssc"),
        F.sum(F.when(ik, F.col("reads") * F.col("reads")).otherwise(0))
        .alias("ssk"),
    )
    mc = F.col("sc").cast("double") / F.col("nc")
    mk = F.col("sk").cast("double") / F.col("nk")
    vc = (F.col("ssc").cast("double")
          - F.col("sc").cast("double") * F.col("sc") / F.col("nc")) \
        / (F.col("nc") - 1)
    vk = (F.col("ssk").cast("double")
          - F.col("sk").cast("double") * F.col("sk") / F.col("nk")) \
        / (F.col("nk") - 1)
    return s.select(
        "gene",
        F.col("nc").alias("n_case"),
        F.col("nk").alias("n_ctrl"),
        F.round(mc, 6).alias("mean_case"),
        F.round(mk, 6).alias("mean_ctrl"),
        F.round((mc - mk) / F.sqrt(vc / F.col("nc") + vk / F.col("nk")), 6)
        .alias("welch_t"),
    )


@q("surv_km_ci", f"""
WITH obs AS ({_SURV_OBS_SQL}),
agg AS (SELECT priority, duration,
               CAST(sum(evt) AS BIGINT) AS d,
               CAST(sum(1 - evt) AS BIGINT) AS c
        FROM obs GROUP BY priority, duration),
w AS (SELECT *,
        sum(d + c) OVER (PARTITION BY priority) AS tot,
        coalesce(sum(d + c) OVER (PARTITION BY priority ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM agg),
r AS (SELECT priority, duration, d, c,
             CAST(tot - prev AS BIGINT) AS n_risk FROM w),
s AS (SELECT *,
        sum(CASE WHEN d < n_risk
                 THEN ln(1 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS lsum,
        sum(CASE WHEN d < n_risk
                 THEN CAST(d AS DOUBLE) / (n_risk * (n_risk - d))
                 ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS gsum,
        max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS zf
      FROM r),
e AS (SELECT *, exp(lsum) AS sv,
             sqrt(exp(lsum) * exp(lsum) * gsum) AS sev FROM s)
SELECT priority, duration, n_risk, d AS n_events,
       CASE WHEN zf = 1 THEN 0.0 ELSE round(sv, 6) END AS survival,
       CASE WHEN zf = 1 THEN 0.0 ELSE round(sev, 6) END AS se,
       CASE WHEN zf = 1 THEN 0.0
            ELSE round(greatest(sv - 1.96 * sev, 0.0), 6) END AS ci_lo,
       CASE WHEN zf = 1 THEN 0.0
            ELSE round(least(sv + 1.96 * sev, 1.0), 6) END AS ci_hi
FROM e
""")
def surv_km_ci_q(spark, sf):
    # Greenwood confidence bands (operators/survival.py km_greenwood):
    # Var(S) = S^2 * sum d/(n(n-d)) as one extra cumulative window over
    # the same per-time grid; bands clamped to [0, 1], the all-events
    # edge excluded exactly like the KM ln(0) flag.
    from clinpy_spark.operators.survival import km_greenwood

    return km_greenwood(_surv_obs(spark, sf), "duration", "evt", "priority")


@q("surv_median_time", f"""
WITH obs AS ({_SURV_OBS_SQL}),
agg AS (SELECT priority, duration,
               CAST(sum(evt) AS BIGINT) AS d,
               CAST(sum(1 - evt) AS BIGINT) AS c
        FROM obs GROUP BY priority, duration),
w AS (SELECT *,
        sum(d + c) OVER (PARTITION BY priority) AS tot,
        coalesce(sum(d + c) OVER (PARTITION BY priority ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM agg),
r AS (SELECT priority, duration, d, c,
             CAST(tot - prev AS BIGINT) AS n_risk FROM w),
s AS (SELECT *,
        sum(CASE WHEN d < n_risk
                 THEN ln(1 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS lsum,
        max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS zf
      FROM r),
km AS (SELECT priority, duration, n_risk,
              CASE WHEN zf = 1 THEN 0.0
                   ELSE round(exp(lsum), 6) END AS survival
       FROM s)
SELECT priority,
       CAST(max(n_risk) AS BIGINT) AS n_subjects,
       min(CASE WHEN survival <= 0.5 THEN duration END) AS median_time
FROM km GROUP BY priority
""")
def surv_median_time_q(spark, sf):
    # Median survival per cohort: the first time the (rounded,
    # engine-identical) KM curve falls to 0.5 — NULL when the curve
    # never crosses within follow-up. Composition of km_curve + one
    # grouped min; n_subjects = at-risk count at the first time.
    from clinpy_spark.operators.survival import km_curve

    km = km_curve(_surv_obs(spark, sf), "duration", "evt", "priority")
    return km.groupBy("priority").agg(
        F.max("n_risk").alias("n_subjects"),
        F.min(F.when(F.col("survival") <= 0.5, F.col("duration")))
        .alias("median_time"),
    )


@q("surv_rmst", f"""
WITH obs AS ({_SURV_OBS_SQL}),
agg AS (SELECT priority, duration,
               CAST(sum(evt) AS BIGINT) AS d,
               CAST(sum(1 - evt) AS BIGINT) AS c
        FROM obs GROUP BY priority, duration),
w AS (SELECT *,
        sum(d + c) OVER (PARTITION BY priority) AS tot,
        coalesce(sum(d + c) OVER (PARTITION BY priority ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM agg),
r AS (SELECT priority, duration, d, c,
             CAST(tot - prev AS BIGINT) AS n_risk FROM w),
s AS (SELECT *,
        sum(CASE WHEN d < n_risk
                 THEN ln(1 - CAST(d AS DOUBLE) / n_risk) ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS lsum,
        max(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS zf
      FROM r),
km AS (SELECT priority, duration, n_risk,
              CASE WHEN zf = 1 THEN 0.0
                   ELSE round(exp(lsum), 6) END AS survival
       FROM s),
seg AS (SELECT priority, n_risk, survival,
               CAST(duration AS DOUBLE) AS t,
               coalesce(CAST(lead(duration) OVER (PARTITION BY priority
                 ORDER BY duration) AS DOUBLE), 365.0) AS nxt,
               least(min(CAST(duration AS DOUBLE)) OVER (PARTITION BY
                 priority), 365.0) AS first_t
        FROM km)
SELECT priority, CAST(max(n_risk) AS BIGINT) AS n_subjects,
       round(max(first_t)
             + sum(survival
                   * greatest(least(nxt, 365.0) - least(t, 365.0), 0.0)),
             6) AS rmst
FROM seg GROUP BY priority
""")
def surv_rmst_q(spark, sf):
    # Restricted mean survival time at tau = 365 days (operators/
    # survival.py rmst): area under the KM step function on [0, tau] —
    # the trial endpoint of choice when hazards aren't proportional.
    # One lead window + one grouped sum over the per-time grid.
    from clinpy_spark.operators.survival import rmst

    return rmst(_surv_obs(spark, sf), "duration", "evt", "priority",
                tau=365)


@q("gx_trend_test", f"""
WITH g AS ({_GENO_SQL}),
pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(CASE WHEN is_case THEN 1 ELSE 0 END) AS BIGINT)
                AS n_case,
              CAST(sum(CASE WHEN is_case THEN gt ELSE 0 END) AS BIGINT)
                AS score_case,
              CAST(sum(gt) AS BIGINT) AS score_total,
              CAST(sum(gt * gt) AS BIGINT) AS sq
       FROM g GROUP BY variant)
SELECT variant, n, n_case, score_case, score_total,
       CASE WHEN n_case = 0 OR n_case = n
              OR CAST(n AS DOUBLE) * sq
                 - CAST(score_total AS DOUBLE) * score_total = 0
            THEN 0.0
            ELSE round(
              CAST(n AS DOUBLE)
              * (CAST(n AS DOUBLE) * score_case
                 - CAST(n_case AS DOUBLE) * score_total)
              * (CAST(n AS DOUBLE) * score_case
                 - CAST(n_case AS DOUBLE) * score_total)
              / (CAST(n_case AS DOUBLE) * (CAST(n AS DOUBLE) - n_case)
                 * (CAST(n AS DOUBLE) * sq
                    - CAST(score_total AS DOUBLE) * score_total)), 6)
       END AS chi2
FROM pv
""")
def gx_trend_test_q(spark, sf):
    # Cochran-Armitage additive trend test (operators/assoc.py
    # trend_chi2) — the standard GWAS per-variant association model:
    # exact integer moments from ONE conditional-sum groupBy, the
    # statistic one fixed-order double expression.
    from clinpy_spark.operators.assoc import trend_chi2

    return trend_chi2(_geno(spark, sf), "variant", "gt", "is_case")


@q("gx_odds_ratio", f"""
WITH g AS ({_GENO_SQL}),
pv AS (SELECT variant,
              CAST(sum(CASE WHEN is_case THEN gt ELSE 0 END) AS BIGINT)
                AS case_alt,
              CAST(sum(CASE WHEN is_case THEN 2 - gt ELSE 0 END) AS BIGINT)
                AS case_ref,
              CAST(sum(CASE WHEN NOT is_case THEN gt ELSE 0 END) AS BIGINT)
                AS ctrl_alt,
              CAST(sum(CASE WHEN NOT is_case THEN 2 - gt ELSE 0 END)
                   AS BIGINT) AS ctrl_ref
       FROM g GROUP BY variant),
h AS (SELECT *,
             (case_alt + 0.5) * (ctrl_ref + 0.5)
             / ((case_ref + 0.5) * (ctrl_alt + 0.5)) AS orr,
             sqrt(1 / (case_alt + 0.5) + 1 / (case_ref + 0.5)
                  + 1 / (ctrl_alt + 0.5) + 1 / (ctrl_ref + 0.5)) AS se
      FROM pv)
SELECT variant, case_alt, case_ref, ctrl_alt, ctrl_ref,
       round(orr, 6) AS or_est,
       round(exp(ln(orr) - 1.96 * se), 6) AS or_lo,
       round(exp(ln(orr) + 1.96 * se), 6) AS or_hi
FROM h
""")
def gx_odds_ratio_q(spark, sf):
    # Haldane-corrected allelic odds ratio with log-scale CI
    # (operators/assoc.py odds_ratio): +0.5 per cell makes the
    # estimate total (no zero-cell branch); same one-groupBy shape as
    # the allelic chi-square.
    from clinpy_spark.operators.assoc import odds_ratio

    return odds_ratio(_geno(spark, sf), "variant", "gt", "is_case")


@q("dx_quantile_normalize", """
WITH x AS (
  SELECT c_custkey, g.gene,
         ('0x' || substr(md5(CAST(c_custkey * 10 + g.gene AS VARCHAR)),
                         1, 8))::BIGINT % 1000
         + CASE WHEN ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                     1, 8))::BIGINT % 2 = 1
                 AND g.gene = 3 THEN 50 ELSE 0 END AS reads
  FROM customer
  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS gene) g),
r AS (SELECT c_custkey AS sample, gene AS feature, reads AS v,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY reads ASC, gene ASC) AS rank
      FROM x),
ref AS (SELECT rank, CAST(sum(v) AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS cnt
        FROM r GROUP BY rank)
SELECT r.sample, r.feature, CAST(r.rank AS INT) AS rank,
       round(CAST(ref.sv AS DOUBLE) / ref.cnt, 6) AS qn_value
FROM r JOIN ref USING (rank)
""")
def dx_quantile_normalize_q(spark, sf):
    # Quantile normalization (operators/assoc.py quantile_normalize;
    # Bolstad 2003) of the deterministic read-count matrix: rank within
    # sample (feature-id tie-break), mean across samples per rank,
    # value replaced by the rank's mean — the standard cross-sample
    # expression normalization, one sample-keyed window + one
    # broadcastable rank join.
    from clinpy_spark.operators.assoc import quantile_normalize

    from clinpy_spark.session import ensure_min_parallelism

    # spread the 1-task single-file customer scan before the md5-per-cell
    # expansion (no-op on multi-file tables)
    cust = ensure_min_parallelism(_t(spark, sf, "customer").select("c_custkey"))
    genes = spark.range(10).select(F.col("id").alias("gene"))
    x = cust.crossJoin(F.broadcast(genes))
    h = F.conv(
        F.substring(
            F.md5((F.col("c_custkey") * 10 + F.col("gene")).cast("string")),
            1, 8),
        16, 10,
    ).cast("long")
    hc = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    reads = h % 1000 + F.when(
        (hc % 2 == 1) & (F.col("gene") == 3), 50).otherwise(0)
    x = x.select("c_custkey", "gene", reads.alias("reads"))
    return quantile_normalize(x, "c_custkey", "gene", "reads", max_features=10)


@q("g_merge_intervals", """
WITH iv AS (
  SELECT o_custkey % 500 AS grp,
         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
           AS start_day,
         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         + ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % 30 AS end_day
  FROM orders),
f AS (SELECT grp, start_day AS s, end_day AS e,
             CASE WHEN start_day > coalesce(
                    max(end_day) OVER (PARTITION BY grp
                      ORDER BY start_day ASC, end_day ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    start_day)
                  THEN 1 ELSE 0 END AS newblk
      FROM iv),
b AS (SELECT *, sum(newblk) OVER (PARTITION BY grp
        ORDER BY s ASC, e ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
      FROM f)
SELECT grp, min(s) AS start_day, max(e) AS end_day,
       CAST(count(*) AS BIGINT) AS n_merged
FROM b GROUP BY grp, blk
""")
def g_merge_intervals_q(spark, sf):
    # Interval union / coverage merge (functions/intervals.py
    # merge_intervals — bedtools-merge semantics): collapse each
    # customer-bucket's order-derived [day, day + hash-span] intervals
    # into maximal covered blocks via the running-max gaps-and-islands
    # window. The genomics exon-union primitive on the star schema.
    from clinpy_spark.functions.intervals import merge_intervals

    o = _t(spark, sf, "orders")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    day = F.datediff(
        F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).cast("long")
    iv = o.select(
        (F.col("o_custkey") % 500).alias("grp"),
        day.alias("start_day"),
        (day + h % 30).alias("end_day"),
    )
    return merge_intervals(iv, "grp", "start_day", "end_day")


# ---------------------------------------------------------------------------
# Graph analytics (operators/graph.py) over the 1996 co-purchase graph:
# parts are nodes, an edge links two parts shipped in the same order.
# Triangle census with degree-oriented wedge enumeration; PageRank as
# K unrolled join+groupBy rounds.
# ---------------------------------------------------------------------------

_COPURCHASE_SQL = """
  SELECT DISTINCT x.l_partkey AS u, y.l_partkey AS v
  FROM (SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1996-12-31') x
  JOIN (SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                             AND TIMESTAMP '1996-12-31') y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
"""


def _copurchase(spark, sf) -> DataFrame:
    """Distinct (u, v) co-purchase edges, u < v; SQL twin
    _COPURCHASE_SQL."""
    li = (
        _t(spark, sf, "lineitem")
        .filter(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .select("l_orderkey", "l_partkey")
    )
    return (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v"))
        .distinct()
    )


@q("graph_triangle_stats", f"""
WITH e AS ({_COPURCHASE_SQL}),
deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        GROUP BY n),
tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM e e1 JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       CASE WHEN (SELECT sum(deg * (deg - 1) / 2) FROM deg) = 0 THEN 0.0
            ELSE round(3.0 * (SELECT n_triangles FROM tri)
                       / (SELECT CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                          FROM deg), 6)
       END AS clustering_coeff
""")
def graph_triangle_stats_q(spark, sf):
    # Exact triangle census (operators/graph.py triangle_stats): edges
    # oriented low-degree -> high-degree bound the wedge self-join by
    # sum(out_deg^2) = O(|E|^1.5) — a whale part never enumerates its
    # full neighbor-pair square. The oracle counts the same triangles
    # by naive u<v<w enumeration; only the join order differs.
    from clinpy_spark.operators.graph import triangle_stats

    return triangle_stats(_copurchase(spark, sf), "u", "v")


@q("graph_pagerank", f"""
WITH e AS ({_COPURCHASE_SQL}),
b AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT u, 1.0 / (SELECT n FROM nn) AS r FROM deg),
r1 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r0.r / deg.deg) AS r
       FROM b JOIN r0 ON r0.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v),
r2 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r1.r / deg.deg) AS r
       FROM b JOIN r1 ON r1.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v),
r3 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r2.r / deg.deg) AS r
       FROM b JOIN r2 ON r2.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v),
r4 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r3.r / deg.deg) AS r
       FROM b JOIN r3 ON r3.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v),
r5 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r4.r / deg.deg) AS r
       FROM b JOIN r4 ON r4.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v)
SELECT u AS node, round(r, 6) AS pr FROM r5
""")
def graph_pagerank_q(spark, sf):
    # PageRank, 5 power steps at damping 0.85 (operators/graph.py
    # pagerank): each step one shuffle keyed by node; the symmetrized
    # edge list has no dangling mass, so the oracle replays the exact
    # recurrence as 5 chained CTEs.
    from clinpy_spark.operators.graph import pagerank

    return pagerank(_copurchase(spark, sf), "u", "v", iterations=5)



# ---------------------------------------------------------------------------
# Round-11 clinical/genetics additions: stratified log-rank (confounder-
# adjusted two-arm comparison), Aalen-Johansen cumulative incidence
# (competing risks), and Hudson F_ST (population differentiation).
# ---------------------------------------------------------------------------

_SURV_STRAT_SQL = """
  SELECT o_orderpriority AS priority,
         datepart('year', o_orderdate) % 3 AS stratum,
         LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt
  FROM (SELECT o_orderpriority, o_orderdate,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
"""


def _surv_obs_strat(spark, sf) -> DataFrame:
    """(priority, stratum, duration, evt): the two-arm cohort with an
    order-year stratum (SQL twin _SURV_STRAT_SQL)."""
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    return o.select(
        F.col("o_orderpriority").alias("priority"),
        (F.year("o_orderdate") % 3).alias("stratum"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
    )


@q("surv_logrank_strat", f"""
WITH obs AS ({_SURV_STRAT_SQL}),
per_t AS (SELECT stratum, duration,
                 sum(CASE WHEN priority = '1-URGENT' THEN evt ELSE 0 END) AS da,
                 sum(CASE WHEN priority = '1-URGENT' THEN 1 ELSE 0 END) AS ra,
                 sum(evt) AS d, count(*) AS r
          FROM obs GROUP BY stratum, duration),
w AS (SELECT *,
        sum(ra) OVER (PARTITION BY stratum)
          - coalesce(sum(ra) OVER (PARTITION BY stratum ORDER BY duration
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
        sum(r) OVER (PARTITION BY stratum)
          - coalesce(sum(r) OVER (PARTITION BY stratum ORDER BY duration
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM per_t),
f AS (SELECT * FROM w WHERE d > 0),
g AS (SELECT CAST(sum(da) AS BIGINT) AS observed_a,
             sum(d * (CAST(na AS DOUBLE) / n)) AS ea,
             sum(CASE WHEN n > 1 THEN d * (CAST(na AS DOUBLE) / n)
                   * (1 - CAST(na AS DOUBLE) / n) * (n - d) / (n - 1)
                 ELSE 0 END) AS v,
             CAST(count(DISTINCT stratum) AS BIGINT) AS n_strata
      FROM f)
SELECT CASE WHEN v > 0
            THEN round((observed_a - ea) * (observed_a - ea) / v, 6)
       END AS chi2,
       observed_a, round(ea, 6) AS expected_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '1-URGENT') AS n_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '5-LOW') AS n_b,
       n_strata
FROM g
""")
def surv_logrank_strat_q(spark, sf):
    # Stratified log-rank (operators/survival.py logrank_stratified):
    # the urgent-vs-low comparison adjusted for an order-year stratum -
    # O-E and hypergeometric variance computed within each stratum's
    # own risk sets, summed across strata into one chi-square.
    from clinpy_spark.operators.survival import logrank_stratified

    return logrank_stratified(
        _surv_obs_strat(spark, sf), "duration", "evt", "priority",
        "stratum", "1-URGENT", "5-LOW")


_SURV_CR_SQL = """
  SELECT o_orderpriority AS priority,
         LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd
              THEN 1 + CAST((h // 1500) % 2 AS INT) ELSE 0 END AS st
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))
"""


def _surv_obs_cr(spark, sf) -> DataFrame:
    """(priority, duration, st): competing-risks cohort - st 0 =
    censored, 1/2 = event cause from an independent hash digit
    (SQL twin _SURV_CR_SQL)."""
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    cause = (F.floor(h / 1500) % 2 + 1).cast("int")
    return o.select(
        F.col("o_orderpriority").alias("priority"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, cause).otherwise(0).alias("st"),
    )


@q("surv_cuminc", f"""
WITH obs AS ({_SURV_CR_SQL}),
pt AS (SELECT priority AS g, duration AS t,
         CAST(sum(CASE WHEN st = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
         CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN st <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS dall,
         CAST(count(*) AS BIGINT) AS r
       FROM obs GROUP BY priority, duration),
w1 AS (SELECT *,
         sum(r) OVER (PARTITION BY g)
           - coalesce(sum(r) OVER (PARTITION BY g ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
       FROM pt),
w2 AS (SELECT *,
         coalesce(sum(CASE WHEN dall < n_risk
                           THEN ln(1 - CAST(dall AS DOUBLE) / n_risk)
                           ELSE 0 END)
           OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lprev,
         coalesce(max(CASE WHEN dall >= n_risk THEN 1 ELSE 0 END)
           OVER (PARTITION BY g ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS zprev
       FROM w1),
w3 AS (SELECT *,
         sum((CASE WHEN zprev = 1 THEN 0.0 ELSE exp(lprev) END)
             * CAST(d0 AS DOUBLE) / n_risk)
           OVER (PARTITION BY g ORDER BY t) AS cif0,
         sum((CASE WHEN zprev = 1 THEN 0.0 ELSE exp(lprev) END)
             * CAST(d1 AS DOUBLE) / n_risk)
           OVER (PARTITION BY g ORDER BY t) AS cif1
       FROM w3src)
SELECT g AS priority, t AS duration, CAST(n_risk AS BIGINT) AS n_risk,
       1 AS cause, d0 AS d, round(cif0, 6) AS cif FROM w3
UNION ALL
SELECT g AS priority, t AS duration, CAST(n_risk AS BIGINT) AS n_risk,
       2 AS cause, d1 AS d, round(cif1, 6) AS cif FROM w3
""".replace("w3src", "w2"))
def surv_cuminc_q(spark, sf):
    # Aalen-Johansen cumulative incidence under competing risks
    # (operators/survival.py cuminc): CIF_k(t) = sum S(t-) d_k/n with
    # all-cause KM S - the readout 1-KM_k overstates when a competing
    # cause removes subjects from risk. Two causes from an independent
    # hash digit; sum_k CIF_k + S = 1 at every time (property-tested).
    from clinpy_spark.operators.survival import cuminc

    return cuminc(_surv_obs_cr(spark, sf), "duration", "st", "priority",
                  causes=[1, 2])


@q("gx_fst_hudson", f"""
WITH g AS ({_GENO_SQL}),
per AS (SELECT variant,
          CAST(sum(CASE WHEN is_case THEN 2 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN NOT is_case THEN 2 ELSE 0 END) AS BIGINT) AS n2,
          CAST(sum(CASE WHEN is_case THEN gt ELSE 0 END) AS BIGINT) AS alt1,
          CAST(sum(CASE WHEN NOT is_case THEN gt ELSE 0 END) AS BIGINT) AS alt2
        FROM g GROUP BY variant),
pv AS (SELECT *, CAST(alt1 AS DOUBLE) / n1 AS p1d,
              CAST(alt2 AS DOUBLE) / n2 AS p2d
       FROM per)
SELECT variant, n1, n2, alt1, alt2,
  CASE WHEN n1 > 0 THEN round(p1d, 6) END AS p1,
  CASE WHEN n2 > 0 THEN round(p2d, 6) END AS p2,
  CASE WHEN n1 > 1 AND n2 > 1
            AND (p1d * (1 - p2d) + p2d * (1 - p1d)) > 0
       THEN round(((p1d - p2d) * (p1d - p2d)
                   - p1d * (1 - p1d) / (n1 - 1)
                   - p2d * (1 - p2d) / (n2 - 1))
                  / (p1d * (1 - p2d) + p2d * (1 - p1d)), 6)
  END AS fst
FROM pv
""")
def gx_fst_hudson_q(spark, sf):
    # Hudson F_ST per variant between the two hash phenotypes
    # (operators/assoc.py fst_hudson, Bhatia 2013 per-site form):
    # population differentiation from per-population allele counts -
    # one variant-keyed groupBy, closed-form ratio, no join. On this
    # HWE-ish null cohort fst hovers near 0 (negative values are the
    # estimator's unbiasedness, not an error).
    from clinpy_spark.operators.assoc import fst_hudson

    return fst_hudson(_geno(spark, sf), "variant", "gt", "is_case")


@q("surv_cox_score", """
WITH obs AS (
  SELECT LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         floor(o_totalprice / 1000) AS x
  FROM (SELECT o_totalprice,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
pt AS (SELECT duration AS t,
         CAST(sum(evt) AS BIGINT) AS d,
         CAST(count(*) AS BIGINT) AS r,
         sum(CASE WHEN evt = 1 THEN x ELSE 0.0 END) AS dx,
         sum(x) AS rx, sum(x * x) AS rxx
       FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        sum(rx) OVER () - coalesce(sum(rx) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sx,
        sum(rxx) OVER () - coalesce(sum(rxx) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sxx
      FROM pt),
f AS (SELECT * FROM w WHERE d > 0),
g AS (SELECT
        sum(dx - d * (sx / n)) AS u,
        sum(CASE WHEN n > 1
                 THEN d * CAST(n - d AS DOUBLE) / (n - 1)
                      * (sxx / n - (sx / n) * (sx / n))
                 ELSE 0 END) AS v,
        CAST(sum(d) AS BIGINT) AS n_events
      FROM g_src)
SELECT CASE WHEN v > 0 THEN round(u * u / v, 6) END AS chi2,
       round(u, 6) AS u,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects
FROM g
""".replace("g_src", "f"))
def surv_cox_score_q(spark, sf):
    # Cox proportional-hazards score test at beta=0 (operators/
    # survival.py cox_score) for a continuous covariate - does hazard
    # rise with the order's price band? Risk-set covariate moments as
    # total-minus-prefix windows over the per-time grid; for a 0/1
    # covariate this statistic IS the two-group log-rank
    # (property-tested). x = floor(price/1000) keeps every moment sum
    # an exact integer in doubles, so the oracle mirrors bit-for-bit.
    from clinpy_spark.operators.survival import cox_score

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.floor(F.col("o_totalprice") / 1000).alias("x"),
    )
    return cox_score(obs, "duration", "evt", "x")


@q("gx_inbreeding", """
WITH g AS (
  SELECT l_partkey % 400 AS variant, l_suppkey AS s,
         (CASE WHEN h % 100 < 30 THEN 1 ELSE 0 END)
         + (CASE WHEN (h // 100) % 100 < 30 THEN 1 ELSE 0 END) AS gt
  FROM (SELECT l_partkey, l_suppkey,
               ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
                                        AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM lineitem)),
fr AS (SELECT variant, CAST(sum(gt) AS DOUBLE) / (2 * count(*)) AS p
       FROM g GROUP BY variant),
j AS (SELECT g.s, g.gt, 2 * fr.p * (1 - fr.p) AS eh
      FROM g JOIN fr USING (variant)),
a AS (SELECT s AS sample, CAST(count(*) AS BIGINT) AS n_variants,
        CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS obs_het,
        sum(eh) AS ehs
      FROM j GROUP BY s)
SELECT sample, n_variants, obs_het, round(ehs, 6) AS exp_het,
       CASE WHEN ehs > 0 THEN round(1 - obs_het / ehs, 6) END AS f
FROM a
""")
def gx_inbreeding_q(spark, sf):
    # Per-sample inbreeding coefficient F = 1 - obs_het/exp_het
    # (operators/assoc.py inbreeding_f) - the sample-QC twin of the
    # per-variant HWE gate (consanguinity / contamination flags).
    # Sample = supplier key over the hash genotypes; one freq groupBy,
    # one join back, one sample aggregate.
    from clinpy_spark.operators.assoc import inbreeding_f

    li = _t(spark, sf, "lineitem")
    h = F.conv(
        F.substring(
            F.md5((F.col("l_orderkey") * 8 + F.col("l_linenumber"))
                  .cast("string")),
            1, 8),
        16, 10,
    ).cast("long")
    g = li.select(
        (F.col("l_partkey") % 400).alias("variant"),
        F.col("l_suppkey").alias("s"),
        ((h % 100 < 30).cast("int")
         + ((F.floor(h / 100) % 100) < 30).cast("int")).alias("gt"),
    )
    return inbreeding_f(g, "variant", "s", "gt")


@q("surv_incidence_rate", """
WITH obs AS (
  SELECT o_orderpriority AS priority,
         CAST(LEAST(h % 1500 + 1, dd) AS DOUBLE) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
a AS (SELECT
        CAST(sum(CASE WHEN priority = '1-URGENT' THEN evt ELSE 0 END) AS BIGINT) AS events_a,
        sum(CASE WHEN priority = '1-URGENT' THEN duration ELSE 0.0 END) AS ptime_a,
        CAST(sum(CASE WHEN priority = '5-LOW' THEN evt ELSE 0 END) AS BIGINT) AS events_b,
        sum(CASE WHEN priority = '5-LOW' THEN duration ELSE 0.0 END) AS ptime_b
      FROM obs)
SELECT events_a, round(ptime_a, 6) AS ptime_a,
       CASE WHEN ptime_a > 0 THEN round(events_a / ptime_a, 6) END AS rate_a,
       events_b, round(ptime_b, 6) AS ptime_b,
       CASE WHEN ptime_b > 0 THEN round(events_b / ptime_b, 6) END AS rate_b,
       CASE WHEN events_a > 0 AND events_b > 0 AND ptime_a > 0 AND ptime_b > 0
            THEN round((events_a / ptime_a) / (events_b / ptime_b), 6) END AS irr,
       CASE WHEN events_a > 0 AND events_b > 0 AND ptime_a > 0 AND ptime_b > 0
            THEN round(exp(ln((events_a / ptime_a) / (events_b / ptime_b))
                           - 1.96 * sqrt(1.0 / events_a + 1.0 / events_b)), 6) END AS irr_lo,
       CASE WHEN events_a > 0 AND events_b > 0 AND ptime_a > 0 AND ptime_b > 0
            THEN round(exp(ln((events_a / ptime_a) / (events_b / ptime_b))
                           + 1.96 * sqrt(1.0 / events_a + 1.0 / events_b)), 6) END AS irr_hi
FROM a
""")
def surv_incidence_rate_q(spark, sf):
    # Person-time incidence rates + rate ratio with the log-normal CI
    # (operators/survival.py incidence_rate): the epidemiology rate
    # readout next to the log-rank family - ONE conditional-sum
    # aggregate, no grid/window/join. Durations are integer days, so
    # the person-time double sums are exact in both engines.
    from clinpy_spark.operators.survival import incidence_rate

    return incidence_rate(
        _surv_obs(spark, sf), "duration", "evt", "priority",
        "1-URGENT", "5-LOW")


@q("surv_logrank_fh", f"""
WITH obs AS ({_SURV_OBS_SQL}),
per_t AS (SELECT duration,
                 sum(CASE WHEN priority = '1-URGENT' THEN evt ELSE 0 END) AS da,
                 sum(CASE WHEN priority = '1-URGENT' THEN 1 ELSE 0 END) AS ra,
                 sum(evt) AS d, count(*) AS r
          FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(ra) OVER () - coalesce(sum(ra) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
        sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM per_t),
w2 AS (SELECT *,
        coalesce(sum(CASE WHEN d < n
                          THEN ln(1 - CAST(d AS DOUBLE) / n) ELSE 0 END)
          OVER (ORDER BY duration
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lprev,
        coalesce(max(CASE WHEN d >= n THEN 1 ELSE 0 END)
          OVER (ORDER BY duration
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS zprev
      FROM w),
f AS (SELECT *,
        pow(CASE WHEN zprev = 1 THEN 0.0 ELSE exp(lprev) END, 1.0)
        * pow(1 - (CASE WHEN zprev = 1 THEN 0.0 ELSE exp(lprev) END), 0.0) AS wt
      FROM w2 WHERE d > 0),
g AS (SELECT CAST(sum(da) AS BIGINT) AS observed_a,
             sum(d * (CAST(na AS DOUBLE) / n)) AS ea,
             sum(wt * (da - d * (CAST(na AS DOUBLE) / n))) AS u,
             sum(wt * wt * (CASE WHEN n > 1
                   THEN d * (CAST(na AS DOUBLE) / n)
                        * (1 - CAST(na AS DOUBLE) / n) * (n - d) / (n - 1)
                   ELSE 0 END)) AS v
      FROM f)
SELECT CASE WHEN v > 0 THEN round(u * u / v, 6) END AS chi2,
       1.0 AS rho, 0.0 AS gamma,
       observed_a, round(ea, 6) AS expected_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '1-URGENT') AS n_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '5-LOW') AS n_b
FROM g
""")
def surv_logrank_fh_q(spark, sf):
    # Fleming-Harrington G(1,0) weighted log-rank (operators/
    # survival.py logrank_weighted): each pooled event time weighted by
    # the pooled-KM left limit S(t-) - the early-difference-sensitive
    # flavor (Peto-Peto); (0,1) is the delayed-effect immunotherapy
    # weighting and (0,0) the plain Mantel-Cox (property-tested).
    from clinpy_spark.operators.survival import logrank_weighted

    return logrank_weighted(
        _surv_obs(spark, sf), "duration", "evt", "priority",
        "1-URGENT", "5-LOW", rho=1.0, gamma=0.0)


@q("surv_logrank_gehan", f"""
WITH obs AS ({_SURV_OBS_SQL}),
per_t AS (SELECT duration,
                 sum(CASE WHEN priority = '1-URGENT' THEN evt ELSE 0 END) AS da,
                 sum(CASE WHEN priority = '1-URGENT' THEN 1 ELSE 0 END) AS ra,
                 sum(evt) AS d, count(*) AS r
          FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(ra) OVER () - coalesce(sum(ra) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
        sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM per_t),
f AS (SELECT *, CAST(n AS DOUBLE) AS wt FROM w WHERE d > 0),
g AS (SELECT CAST(sum(da) AS BIGINT) AS observed_a,
             sum(d * (CAST(na AS DOUBLE) / n)) AS ea,
             sum(wt * (da - d * (CAST(na AS DOUBLE) / n))) AS u,
             sum(wt * wt * (CASE WHEN n > 1
                   THEN d * (CAST(na AS DOUBLE) / n)
                        * (1 - CAST(na AS DOUBLE) / n) * (n - d) / (n - 1)
                   ELSE 0 END)) AS v
      FROM f)
SELECT CASE WHEN v > 0 THEN round(u * u / v, 6) END AS chi2,
       CAST(NULL AS DOUBLE) AS rho, CAST(NULL AS DOUBLE) AS gamma,
       observed_a, round(ea, 6) AS expected_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '1-URGENT') AS n_a,
       (SELECT CAST(count(*) AS BIGINT) FROM obs
        WHERE priority = '5-LOW') AS n_b
FROM g
""")
def surv_logrank_gehan_q(spark, sf):
    # Gehan-Breslow generalized Wilcoxon (operators/survival.py
    # logrank_weighted, weight='gehan'): each pooled event time
    # weighted by the at-risk count n(t) — the censored rank-sum test,
    # early-difference-sensitive with an INTEGER-exact weight (no KM
    # prefix in the numerator) and NOT in the Fleming-Harrington
    # family surv_logrank_fh spans.
    from clinpy_spark.operators.survival import logrank_weighted

    return logrank_weighted(
        _surv_obs(spark, sf), "duration", "evt", "priority",
        "1-URGENT", "5-LOW", weight="gehan")


@q("graph_kcore", f"""
WITH e AS ({_COPURCHASE_SQL}),
b0 AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
k0 AS MATERIALIZED (SELECT u FROM b0 GROUP BY u HAVING count(*) >= 4),
b1 AS MATERIALIZED (SELECT b.u, b.v FROM b0 b JOIN k0 x ON b.u = x.u JOIN k0 y ON b.v = y.u),
k1 AS MATERIALIZED (SELECT u FROM b1 GROUP BY u HAVING count(*) >= 4),
b2 AS MATERIALIZED (SELECT b.u, b.v FROM b1 b JOIN k1 x ON b.u = x.u JOIN k1 y ON b.v = y.u),
k2 AS MATERIALIZED (SELECT u FROM b2 GROUP BY u HAVING count(*) >= 4),
b3 AS MATERIALIZED (SELECT b.u, b.v FROM b2 b JOIN k2 x ON b.u = x.u JOIN k2 y ON b.v = y.u),
k3 AS MATERIALIZED (SELECT u FROM b3 GROUP BY u HAVING count(*) >= 4),
b4 AS MATERIALIZED (SELECT b.u, b.v FROM b3 b JOIN k3 x ON b.u = x.u JOIN k3 y ON b.v = y.u),
k4 AS MATERIALIZED (SELECT u FROM b4 GROUP BY u HAVING count(*) >= 4),
b5 AS MATERIALIZED (SELECT b.u, b.v FROM b4 b JOIN k4 x ON b.u = x.u JOIN k4 y ON b.v = y.u),
k5 AS MATERIALIZED (SELECT u FROM b5 GROUP BY u HAVING count(*) >= 4),
b6 AS MATERIALIZED (SELECT b.u, b.v FROM b5 b JOIN k5 x ON b.u = x.u JOIN k5 y ON b.v = y.u)
SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
FROM b6 GROUP BY u HAVING count(*) >= 4
""")
def graph_kcore_q(spark, sf):
    # k-core by 6 unrolled peeling rounds at k=4 (operators/graph.py
    # kcore): each round one degree aggregate + two semi joins; the
    # oracle replays the SAME bounded rounds as chained MATERIALIZED
    # CTEs (DuckDB inlines plain CTEs - the un-materialized chain
    # re-expands exponentially and ran 41s vs 0.05s), so the
    # contract is exact whether or not the fixpoint is reached (it is,
    # on this graph - pytest pins convergence on a known core).
    from clinpy_spark.operators.graph import kcore

    return kcore(_copurchase(spark, sf), "u", "v", k=4, rounds=6)

# ---------------------------------------------------------------------------
# Round-11 session-2 additions: drift divergences (JS, Wasserstein-1),
# Cox Newton-Raphson MLE, KING-robust kinship, Adamic-Adar link
# prediction.
# ---------------------------------------------------------------------------

@q("drift_js_value", """
WITH ref AS (SELECT event_id, value FROM events WHERE user_id % 2 = 0),
cur AS (SELECT event_id, value FROM events WHERE user_id % 2 = 1),
e AS (SELECT unnest(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS edge FROM ref),
rb AS (SELECT count(*) FILTER (r.value > e.edge) AS bin FROM ref r CROSS JOIN e GROUP BY r.event_id),
rc AS (SELECT bin, count(*) AS ref_n FROM rb GROUP BY bin),
cb AS (SELECT count(*) FILTER (c.value > e.edge) AS bin FROM cur c CROSS JOIN e GROUP BY c.event_id),
cc AS (SELECT bin, count(*) AS cur_n FROM cb GROUP BY bin),
spine AS (SELECT unnest(generate_series(0, 9)) AS bin),
j AS (SELECT s.bin, coalesce(ref_n, 0) AS ref_n, coalesce(cur_n, 0) AS cur_n
      FROM spine s LEFT JOIN rc ON s.bin = rc.bin LEFT JOIN cc ON s.bin = cc.bin),
t AS (SELECT sum(ref_n) AS tr, sum(cur_n) AS tc FROM j),
pq AS (SELECT (ref_n + 0.5) / (tr + 5.0) AS p, (cur_n + 0.5) / (tc + 5.0) AS q,
              tr, tc
       FROM j CROSS JOIN t)
SELECT round(sum(0.5 * p * ln(p / ((p + q) / 2))
              + 0.5 * q * ln(q / ((p + q) / 2))), 6) AS jsd,
       CAST(max(tr) AS BIGINT) AS ref_n,
       CAST(max(tc) AS BIGINT) AS cur_n,
       CAST(10 AS INT) AS n_bins
FROM pq
""")
def drift_js_value_q(spark, sf):
    # Jensen-Shannon divergence over the reference's decile bins
    # (operators/drift.py js_divergence): symmetric and bounded by
    # ln 2 where PSI is neither, same Laplace +0.5/bin smoothing so
    # the oracle recomputes every term. The batch-acceptance score
    # you can threshold without choosing which snapshot is "ref".
    from clinpy_spark.operators.drift import js_divergence

    ev = _t(spark, sf, "events")
    return js_divergence(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "value",
        n_bins=10,
    )


@q("drift_w1_value", """
WITH t0 AS (
  SELECT event_id AS eid, value AS v,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ir
  FROM events),
e AS (SELECT unnest(quantile_cont(v,
        [0.05,0.1,0.15,0.2,0.25,0.3,0.35,0.4,0.45,0.5,
         0.55,0.6,0.65,0.7,0.75,0.8,0.85,0.9,0.95])) AS edge FROM t0),
tb AS (SELECT t0.eid, t0.ir, t0.v,
              count(*) FILTER (t0.v > e.edge) AS bin
       FROM t0 CROSS JOIN e GROUP BY t0.eid, t0.ir, t0.v),
pb AS (SELECT bin, sum(ir) AS ref_n, sum(1 - ir) AS cur_n, min(v) AS rep
       FROM tb GROUP BY bin),
tot AS (SELECT sum(ref_n) AS tr, sum(cur_n) AS tc FROM pb),
c AS (SELECT bin, rep,
             CAST(sum(ref_n) OVER w AS DOUBLE) / tr AS cr,
             CAST(sum(cur_n) OVER w AS DOUBLE) / tc AS cc,
             lead(rep) OVER (ORDER BY bin) AS xn
      FROM pb CROSS JOIN tot
      WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT round(sum(abs(cr - cc) * coalesce(xn - rep, 0.0)), 6) AS w1,
       round(max(abs(cr - cc)), 6) AS ks_d,
       (SELECT CAST(tr AS BIGINT) FROM tot) AS ref_n,
       (SELECT CAST(tc AS BIGINT) FROM tot) AS cur_n
FROM c
""")
def drift_w1_value_q(spark, sf):
    # Wasserstein-1 (earth-mover) drift over 20 pooled-quantile bins
    # (operators/drift.py wasserstein_binned): unlike KS's max-gap,
    # W1 weights HOW FAR the mass moved — the metric of choice when a
    # uniform small shift matters as much as a localized spike. Bin
    # representatives are exact order statistics (pooled per-bin min),
    # so no cross-engine float summation enters the positions and the
    # oracle mirrors exactly.
    from clinpy_spark.operators.drift import wasserstein_binned

    ev = _t(spark, sf, "events")
    return wasserstein_binned(
        ev.filter(F.col("user_id") % 2 == 0),
        ev.filter(F.col("user_id") % 2 == 1),
        "value",
        n_bins=20,
    )


@q("surv_cox_beta", """
WITH obs AS (
  SELECT LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
pt AS (SELECT duration AS t,
         CAST(sum(evt) AS BIGINT) AS d,
         CAST(sum(evt * x) AS BIGINT) AS d1,
         CAST(count(*) AS BIGINT) AS r,
         CAST(sum(x) AS BIGINT) AS r1
       FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        sum(r1) OVER () - coalesce(sum(r1) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM pt),
f AS MATERIALIZED (SELECT t, d, d1, n, n1 FROM w WHERE d > 0),
i1 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp(0.0) AS s1,
                    (n - n1) + n1 * exp(0.0) AS s0 FROM f)),
b1 AS (SELECT CASE WHEN i > 0 THEN 0.0 + u / i END AS beta FROM i1),
i2 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b1)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b1)) AS s0 FROM f)),
b2 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b1) + u / i END AS beta FROM i2),
i3 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b2)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b2)) AS s0 FROM f)),
b3 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b2) + u / i END AS beta FROM i3),
fin AS (SELECT sum(d * (s1 / s0) * (1 - s1 / s0)) AS i,
               CAST(sum(d) AS BIGINT) AS n_events
        FROM (SELECT d, n1 * exp((SELECT beta FROM b3)) AS s1,
                     (n - n1) + n1 * exp((SELECT beta FROM b3)) AS s0 FROM f))
SELECT CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round((SELECT beta FROM b3), 6) END AS beta,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round(exp((SELECT beta FROM b3)), 6) END AS hr,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round(1 / sqrt(i), 6) END AS se,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round((SELECT beta FROM b3) * (SELECT beta FROM b3) * i, 6)
       END AS wald_chi2,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects
FROM fin
""")
def surv_cox_beta_q(spark, sf):
    # Cox proportional-hazards MLE by 3 unrolled Newton steps
    # (operators/survival.py cox_newton) for the URGENT-vs-LOW arm
    # indicator: the effect-SIZE readout (log hazard ratio + Wald
    # ingredients) on top of the score test's yes/no. The binary
    # covariate collapses every risk-set exponential moment onto the
    # same bounded per-event-time grid the log-rank family uses, so
    # the oracle replays the exact recurrence as 3 chained CTEs.
    from clinpy_spark.operators.survival import cox_newton

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("x"),
    )
    return cox_newton(obs, "duration", "evt", "x", iterations=3)


def _cox_multi_sql(iterations: int) -> str:
    """Chained-CTE replay of cox_newton_multi's Breslow-Newton
    recurrence for d = 2 binary covariates: the dense (event-time x
    covariate-cell) at-risk grid via the same cumulative-leavers
    window trick as the Spark side, then per step one per-time moment
    aggregate, one global score/information reduce, and a Cramer 2x2
    update. Every step CTE MATERIALIZED (scalar-subquery references
    would otherwise re-inline the whole chain per reference). Every
    DOUBLE sum is an ORDERED aggregate (cells by x1, x2 within each
    time; times ascending across the reduce) so the accumulation order
    is pinned to EXACTLY the sorted order the Spark driver loop uses
    (r13 verdict #1) — the two float streams are operand-for-operand
    identical, not merely within rounding distance."""
    pt = """ (SELECT sum(dd) AS n_events,
         sum(da1 - dd * s11 / s0 ORDER BY t) AS u1,
         sum(da2 - dd * s12 / s0 ORDER BY t) AS u2,
         sum(dd * (s211 / s0 - (s11 / s0) * (s11 / s0)) ORDER BY t) AS i11,
         sum(dd * (s212 / s0 - (s11 / s0) * (s12 / s0)) ORDER BY t) AS i12,
         sum(dd * (s222 / s0 - (s12 / s0) * (s12 / s0)) ORDER BY t) AS i22
   FROM (SELECT t, sum(n_c * ex ORDER BY x1, x2) AS s0, sum(d) AS dd,
                sum(x1 * d ORDER BY x1, x2) AS da1,
                sum(x2 * d ORDER BY x1, x2) AS da2,
                sum(n_c * x1 * ex ORDER BY x1, x2) AS s11,
                sum(n_c * x2 * ex ORDER BY x1, x2) AS s12,
                sum(n_c * x1 * x1 * ex ORDER BY x1, x2) AS s211,
                sum(n_c * x1 * x2 * ex ORDER BY x1, x2) AS s212,
                sum(n_c * x2 * x2 * ex ORDER BY x1, x2) AS s222
         FROM (SELECT g.*, exp((SELECT b1 FROM {prev}) * x1
                               + (SELECT b2 FROM {prev}) * x2) AS ex
               FROM grid g)
         GROUP BY t))"""
    upd = """ (SELECT
        CASE WHEN i11 * i22 - i12 * i12 > 0
             THEN (SELECT b1 FROM {prev})
                  + (i22 * u1 - i12 * u2) / (i11 * i22 - i12 * i12)
        END AS b1,
        CASE WHEN i11 * i22 - i12 * i12 > 0
             THEN (SELECT b2 FROM {prev})
                  + (i11 * u2 - i12 * u1) / (i11 * i22 - i12 * i12)
        END AS b2
        FROM m{i})"""
    ctes = ["""obs AS MATERIALIZED (
  SELECT LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x1,
         CAST(ck % 2 AS DOUBLE) AS x2
  FROM (SELECT o_orderpriority, o_custkey AS ck,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')))""",
            """leav AS MATERIALIZED (
  SELECT x1, x2, duration AS t, CAST(count(*) AS BIGINT) AS r,
         CAST(sum(evt) AS BIGINT) AS d
  FROM obs GROUP BY 1, 2, 3)""",
            """cells AS MATERIALIZED (
  SELECT x1, x2, CAST(sum(r) AS BIGINT) AS tot FROM leav GROUP BY 1, 2)""",
            "times AS MATERIALIZED (SELECT DISTINCT t FROM leav WHERE d > 0)",
            """u0 AS (SELECT c.x1, c.x2, tm.t, c.tot, 0 AS r, 0 AS il
      FROM times tm CROSS JOIN cells c
      UNION ALL
      SELECT l.x1, l.x2, l.t, c.tot, l.r, 1
      FROM leav l JOIN cells c ON l.x1 = c.x1 AND l.x2 = c.x2)""",
            """atr AS (SELECT x1, x2, t,
        tot - coalesce(sum(r) OVER (PARTITION BY x1, x2 ORDER BY t, il
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_c,
        il
      FROM u0 QUALIFY il = 0)""",
            """grid AS MATERIALIZED (
  SELECT a.x1, a.x2, a.t, a.n_c, coalesce(l.d, 0) AS d
  FROM atr a LEFT JOIN (SELECT x1, x2, t, d FROM leav WHERE d > 0) l
    ON l.x1 = a.x1 AND l.x2 = a.x2 AND l.t = a.t)""",
            "bc0 AS (SELECT 0.0 AS b1, 0.0 AS b2)"]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + pt.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED" + upd.format(prev=prev, i=i))
        prev = f"bc{i}"
    ctes.append("fin AS MATERIALIZED" + pt.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT b1, b2 FROM {prev})")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round((SELECT b1 FROM bf), 5) + 0.0 END AS beta1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf), 5) + 0.0 END AS beta2,
       CASE WHEN ok THEN round(exp((SELECT b1 FROM bf)), 5) + 0.0 END AS hr1,
       CASE WHEN ok THEN round(exp((SELECT b2 FROM bf)), 5) + 0.0 END AS hr2,
       CASE WHEN ok THEN round(sqrt(i22 / det), 5) + 0.0 END AS se1,
       CASE WHEN ok THEN round(sqrt(i11 / det), 5) + 0.0 END AS se2,
       CASE WHEN ok THEN round((SELECT b1 FROM bf) * (SELECT b1 FROM bf)
                               / (i22 / det), 5) + 0.0 END AS wald_chi2_1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf) * (SELECT b2 FROM bf)
                               / (i11 / det), 5) + 0.0 END AS wald_chi2_2,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects,
       CASE WHEN ok THEN round(sqrt(u1 * u1 + u2 * u2), 5) + 0.0
       END AS score_norm
FROM (SELECT *, i11 * i22 - i12 * i12 AS det,
             (SELECT b1 FROM bf) IS NOT NULL
             AND i11 * i22 - i12 * i12 > 0 AS ok
      FROM fin)
"""


@q("surv_cox_multi", _cox_multi_sql(4))
def surv_cox_multi_q(spark, sf):
    # Multi-covariate Cox MLE (operators/survival.py cox_newton_multi,
    # r11 verdict #4): the URGENT-vs-LOW hazard ratio ADJUSTED for a
    # customer-parity confounder, jointly. Subjects collapse to
    # per-(covariate-cell, time) leaver counts, collected once (bounded);
    # the driver rebuilds the (event-time x cell) at-risk grid by
    # integer prefix sums and runs each Newton step with a 2x2 Cramer
    # solve. The oracle replays the identical recurrence with Cramer
    # CTE updates over the same grid built with windows.
    from clinpy_spark.operators.survival import cox_newton_multi

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
        .alias("x1"),
        (F.col("o_custkey") % 2).cast("double").alias("x2"),
    )
    return cox_newton_multi(obs, "duration", "evt", ["x1", "x2"],
                            iterations=4)


def _cox_multi3_sql(iterations: int) -> str:
    """Chained-CTE replay of cox_newton_multi's recurrence for d = 3
    covariates (r12 verdict #5 — the driver-proof above the d = 2
    Cramer): identical windowed at-risk grid, per step one per-time
    moment aggregate and a 3x3 cofactor-expansion Cramer update whose
    operand order is EXACTLY functions/cramer.py solve3 (the Spark
    driver solve), so the two sides differ only by distributed-sum
    order — absorbed by the family's round-5 emission."""
    pt = """ (SELECT sum(dd) AS n_events,
         sum(da1 - dd * s11 / s0 ORDER BY t) AS u1,
         sum(da2 - dd * s12 / s0 ORDER BY t) AS u2,
         sum(da3 - dd * s13 / s0 ORDER BY t) AS u3,
         sum(dd * (s211 / s0 - (s11 / s0) * (s11 / s0)) ORDER BY t) AS i11,
         sum(dd * (s212 / s0 - (s11 / s0) * (s12 / s0)) ORDER BY t) AS i12,
         sum(dd * (s213 / s0 - (s11 / s0) * (s13 / s0)) ORDER BY t) AS i13,
         sum(dd * (s222 / s0 - (s12 / s0) * (s12 / s0)) ORDER BY t) AS i22,
         sum(dd * (s223 / s0 - (s12 / s0) * (s13 / s0)) ORDER BY t) AS i23,
         sum(dd * (s233 / s0 - (s13 / s0) * (s13 / s0)) ORDER BY t) AS i33
   FROM (SELECT t, sum(n_c * ex ORDER BY x1, x2, x3) AS s0, sum(d) AS dd,
                sum(x1 * d ORDER BY x1, x2, x3) AS da1,
                sum(x2 * d ORDER BY x1, x2, x3) AS da2,
                sum(x3 * d ORDER BY x1, x2, x3) AS da3,
                sum(n_c * x1 * ex ORDER BY x1, x2, x3) AS s11,
                sum(n_c * x2 * ex ORDER BY x1, x2, x3) AS s12,
                sum(n_c * x3 * ex ORDER BY x1, x2, x3) AS s13,
                sum(n_c * x1 * x1 * ex ORDER BY x1, x2, x3) AS s211,
                sum(n_c * x1 * x2 * ex ORDER BY x1, x2, x3) AS s212,
                sum(n_c * x1 * x3 * ex ORDER BY x1, x2, x3) AS s213,
                sum(n_c * x2 * x2 * ex ORDER BY x1, x2, x3) AS s222,
                sum(n_c * x2 * x3 * ex ORDER BY x1, x2, x3) AS s223,
                sum(n_c * x3 * x3 * ex ORDER BY x1, x2, x3) AS s233
         FROM (SELECT g.*, exp((SELECT b1 FROM {prev}) * x1
                               + (SELECT b2 FROM {prev}) * x2
                               + (SELECT b3 FROM {prev}) * x3) AS ex
               FROM grid g)
         GROUP BY t))"""
    upd = """ (SELECT
        CASE WHEN det > 0 THEN (SELECT b1 FROM {prev})
             + (u1 * (i22 * i33 - i23 * i23)
                - i12 * (u2 * i33 - i23 * u3)
                + i13 * (u2 * i23 - i22 * u3)) / det END AS b1,
        CASE WHEN det > 0 THEN (SELECT b2 FROM {prev})
             + (i11 * (u2 * i33 - i23 * u3)
                - u1 * (i12 * i33 - i23 * i13)
                + i13 * (i12 * u3 - u2 * i13)) / det END AS b2,
        CASE WHEN det > 0 THEN (SELECT b3 FROM {prev})
             + (i11 * (i22 * u3 - u2 * i23)
                - i12 * (i12 * u3 - u2 * i13)
                + u1 * (i12 * i23 - i22 * i13)) / det END AS b3
        FROM (SELECT *, i11 * (i22 * i33 - i23 * i23)
                        - i12 * (i12 * i33 - i23 * i13)
                        + i13 * (i12 * i23 - i22 * i13) AS det
              FROM m{i}))"""
    ctes = ["""obs AS MATERIALIZED (
  SELECT LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END AS x1,
         CAST(ck % 2 AS DOUBLE) AS x2,
         CAST(ck % 3 AS DOUBLE) AS x3
  FROM (SELECT o_orderpriority, o_custkey AS ck,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')))""",
            """leav AS MATERIALIZED (
  SELECT x1, x2, x3, duration AS t, CAST(count(*) AS BIGINT) AS r,
         CAST(sum(evt) AS BIGINT) AS d
  FROM obs GROUP BY 1, 2, 3, 4)""",
            """cells AS MATERIALIZED (
  SELECT x1, x2, x3, CAST(sum(r) AS BIGINT) AS tot FROM leav GROUP BY 1, 2, 3)""",
            "times AS MATERIALIZED (SELECT DISTINCT t FROM leav WHERE d > 0)",
            """u0 AS (SELECT c.x1, c.x2, c.x3, tm.t, c.tot, 0 AS r, 0 AS il
      FROM times tm CROSS JOIN cells c
      UNION ALL
      SELECT l.x1, l.x2, l.x3, l.t, c.tot, l.r, 1
      FROM leav l JOIN cells c
        ON l.x1 = c.x1 AND l.x2 = c.x2 AND l.x3 = c.x3)""",
            """atr AS (SELECT x1, x2, x3, t,
        tot - coalesce(sum(r) OVER (PARTITION BY x1, x2, x3 ORDER BY t, il
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_c,
        il
      FROM u0 QUALIFY il = 0)""",
            """grid AS MATERIALIZED (
  SELECT a.x1, a.x2, a.x3, a.t, a.n_c, coalesce(l.d, 0) AS d
  FROM atr a LEFT JOIN (SELECT x1, x2, x3, t, d FROM leav WHERE d > 0) l
    ON l.x1 = a.x1 AND l.x2 = a.x2 AND l.x3 = a.x3 AND l.t = a.t)""",
            "bc0 AS (SELECT 0.0 AS b1, 0.0 AS b2, 0.0 AS b3)"]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + pt.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED" + upd.format(prev=prev, i=i))
        prev = f"bc{i}"
    ctes.append("fin AS MATERIALIZED" + pt.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT b1, b2, b3 FROM {prev})")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round((SELECT b1 FROM bf), 5) + 0.0 END AS beta1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf), 5) + 0.0 END AS beta2,
       CASE WHEN ok THEN round((SELECT b3 FROM bf), 5) + 0.0 END AS beta3,
       CASE WHEN ok THEN round(exp((SELECT b1 FROM bf)), 5) + 0.0 END AS hr1,
       CASE WHEN ok THEN round(exp((SELECT b2 FROM bf)), 5) + 0.0 END AS hr2,
       CASE WHEN ok THEN round(exp((SELECT b3 FROM bf)), 5) + 0.0 END AS hr3,
       CASE WHEN ok THEN round(sqrt((i22 * i33 - i23 * i23) / det), 5) + 0.0
       END AS se1,
       CASE WHEN ok THEN round(sqrt((i11 * i33 - i13 * i13) / det), 5) + 0.0
       END AS se2,
       CASE WHEN ok THEN round(sqrt((i11 * i22 - i12 * i12) / det), 5) + 0.0
       END AS se3,
       CASE WHEN ok THEN round((SELECT b1 FROM bf) * (SELECT b1 FROM bf)
                               / ((i22 * i33 - i23 * i23) / det), 5) + 0.0
       END AS wald_chi2_1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf) * (SELECT b2 FROM bf)
                               / ((i11 * i33 - i13 * i13) / det), 5) + 0.0
       END AS wald_chi2_2,
       CASE WHEN ok THEN round((SELECT b3 FROM bf) * (SELECT b3 FROM bf)
                               / ((i11 * i22 - i12 * i12) / det), 5) + 0.0
       END AS wald_chi2_3,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects,
       CASE WHEN ok THEN round(sqrt(u1 * u1 + u2 * u2 + u3 * u3), 5) + 0.0
       END AS score_norm
FROM (SELECT *, i11 * (i22 * i33 - i23 * i23)
                - i12 * (i12 * i33 - i23 * i13)
                + i13 * (i12 * i23 - i22 * i13) AS det,
             (SELECT b1 FROM bf) IS NOT NULL
             AND i11 * (i22 * i33 - i23 * i23)
                 - i12 * (i12 * i33 - i23 * i13)
                 + i13 * (i12 * i23 - i22 * i13) > 0 AS ok
      FROM fin)
"""


@q("surv_cox_multi3", _cox_multi3_sql(4))
def surv_cox_multi3_q(spark, sf):
    # d = 3 Cox MLE (r12 verdict #5): the URGENT-vs-LOW hazard ratio
    # adjusted for BOTH customer-parity bands jointly — the rung that
    # driver-proves the multi fitter beyond the d = 2 Cramer oracle.
    # Same bounded (event-time x 12-cell) grid; each Newton step is a
    # driver-side grid reduction + 3x3 Cramer solve whose operand
    # order the oracle's cofactor CTEs replay token-for-token.
    from clinpy_spark.operators.survival import cox_newton_multi

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
        .alias("x1"),
        (F.col("o_custkey") % 2).cast("double").alias("x2"),
        (F.col("o_custkey") % 3).cast("double").alias("x3"),
    )
    return cox_newton_multi(obs, "duration", "evt", ["x1", "x2", "x3"],
                            iterations=4)



@q("surv_finegray_score", """
WITH obs AS MATERIALIZED (
  SELECT LEAST(h % 1500 + 1, dd) AS t,
         CASE WHEN h % 1500 + 1 <= dd
              THEN CASE WHEN h % 3 = 0 THEN 2 ELSE 1 END
              ELSE 0 END AS st,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
leav AS MATERIALIZED (
  SELECT x, t, CAST(count(*) AS BIGINT) AS r,
         CAST(sum(CASE WHEN st = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN st = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM obs GROUP BY 1, 2),
tt AS (SELECT t, CAST(sum(r) AS BIGINT) AS r, CAST(sum(c) AS BIGINT) AS c,
              CAST(sum(d1) AS BIGINT) AS d1,
              CAST(sum(CASE WHEN x = 1 THEN d1 ELSE 0 END) AS BIGINT) AS d1x
       FROM leav GROUP BY t),
tw AS (SELECT *,
         sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS atr
       FROM tt),
tg AS MATERIALIZED (
  SELECT *,
    exp(coalesce(sum(lt) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)) AS g,
    exp(coalesce(sum(lt) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS g_prev
  FROM (SELECT *, CASE WHEN c = 0 THEN 0.0
                       WHEN c < atr
                       THEN ln(1.0 - CAST(c AS DOUBLE) / atr) END AS lt
        FROM tw)),
cells AS MATERIALIZED (
  SELECT x, CAST(sum(r) AS BIGINT) AS tot FROM leav GROUP BY x),
u0 AS (SELECT c.x, tg.t, c.tot, tg.g_prev, tg.d1, tg.d1x,
              CAST(0 AS BIGINT) AS r, 0.0 AS wc, 0 AS il
       FROM tg CROSS JOIN cells c WHERE tg.d1 > 0
       UNION ALL
       SELECT l.x, l.t, c.tot, NULL, NULL, NULL, l.r,
              CAST(l.d2 AS DOUBLE) / t2.g, 1
       FROM leav l JOIN cells c ON l.x = c.x JOIN tg t2 ON t2.t = l.t),
a2 AS (SELECT x, t, g_prev, d1, d1x,
         tot - coalesce(sum(r) OVER (PARTITION BY x ORDER BY t, il
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
         coalesce(sum(wc) OVER (PARTITION BY x ORDER BY t, il
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cw,
         il
       FROM u0 QUALIFY il = 0),
per_t AS MATERIALIZED (
  SELECT t, sum(n + g_prev * cw ORDER BY x) AS s0,
         sum(CASE WHEN x = 1 THEN n + g_prev * cw ELSE 0.0 END
             ORDER BY x) AS s1,
         max(d1) AS d, max(d1x) AS dx
  FROM a2 GROUP BY t),
fin AS (SELECT sum(dx - d * (s1 / s0) ORDER BY t) AS u,
               sum(CASE WHEN s0 > 1
                   THEN d * (s0 - d) / (s0 - 1)
                        * (s1 / s0 - (s1 / s0) * (s1 / s0))
                   ELSE 0.0 END ORDER BY t) AS v,
               CAST(sum(d) AS BIGINT) AS n_events
        FROM per_t)
SELECT CASE WHEN v > 0 THEN round(u * u / v, 6) + 0.0 END AS chi2,
       round(u, 6) + 0.0 AS u,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS BIGINT)
        FROM obs) AS n_competing,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects
FROM fin
""")
def surv_finegray_score_q(spark, sf):
    # Fine-Gray subdistribution-hazard score test (operators/
    # survival.py finegray_score, r12 verdict #6): does the CUMULATIVE
    # INCIDENCE of the event of interest differ between URGENT and LOW
    # arms when a third of events are COMPETING (h % 3 = 0)? IPCW
    # weights from the censoring KM keep competing-event subjects in
    # the risk set; weights, weighted risk sets, and the score reduce
    # are all bounded-grid window arithmetic the oracle replays
    # verbatim. No competing events => cox_score exactly (property
    # test).
    from clinpy_spark.operators.survival import finegray_score

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("t"),
        F.when(followup <= dd,
               F.when(h % 3 == 0, 2).otherwise(1)).otherwise(0).alias("st"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("x"),
    )
    return finegray_score(obs, "t", "st", "x")


def _multinomial_sql(iterations: int) -> str:
    """Chained-CTE replay of multinomial_newton's softmax Newton
    recurrence at k = 3 classes over one covariate (r12 verdict #7):
    the 4x4 system [a1, b1, a2, b2] is solved by Cramer numerators and
    principal-minor variances whose SQL text is GENERATED from the
    same Leibniz term enumeration (functions/cramer.py det_terms) the
    Spark driver solve evaluates — term order, and therefore every
    IEEE rounding step, is identical by construction; the residual
    distributed-sum drift is absorbed by round-5 emission."""
    from clinpy_spark.functions.cramer import inv_diag_sql, solve_n_sql

    det_sql, nums = solve_n_sql(
        lambda r: f"u{r}", lambda r, c: f"i{r}{c}", 4)
    _, minors = inv_diag_sql(lambda r, c: f"i{r}{c}", 4)
    ialias = ("h00 AS i00, h01 AS i01, h02 AS i11, h10 AS i22, "
              "h11 AS i23, h12 AS i33, -g0 AS i02, -g1 AS i03, "
              "-g1 AS i12, -g2 AS i13")
    mom = """ (SELECT sum(n1 - n * p1) AS u0,
         sum(x * (n1 - n * p1)) AS u1,
         sum(n2 - n * p2) AS u2,
         sum(x * (n2 - n * p2)) AS u3,
         sum(n * (p1 * (1 - p1))) AS h00,
         sum(x * (n * (p1 * (1 - p1)))) AS h01,
         sum(x * x * (n * (p1 * (1 - p1)))) AS h02,
         sum(n * (p2 * (1 - p2))) AS h10,
         sum(x * (n * (p2 * (1 - p2)))) AS h11,
         sum(x * x * (n * (p2 * (1 - p2)))) AS h12,
         sum(n * (p1 * p2)) AS g0,
         sum(x * (n * (p1 * p2))) AS g1,
         sum(x * x * (n * (p1 * p2))) AS g2,
         CAST(sum(n) AS BIGINT) AS n
   FROM (SELECT x, n, n1, n2, e1 / den AS p1, e2 / den AS p2
         FROM (SELECT *, 1.0 + e1 + e2 AS den
               FROM (SELECT *,
                       exp((SELECT a1 FROM {prev})
                           + (SELECT b1 FROM {prev}) * x) AS e1,
                       exp((SELECT a2 FROM {prev})
                           + (SELECT b2 FROM {prev}) * x) AS e2
                     FROM grid))))"""
    upd = (" (SELECT\n"
           "  CASE WHEN det > 0 THEN (SELECT a1 FROM {prev})\n"
           "       + " + nums[0] + " / det END AS a1,\n"
           "  CASE WHEN det > 0 THEN (SELECT b1 FROM {prev})\n"
           "       + " + nums[1] + " / det END AS b1,\n"
           "  CASE WHEN det > 0 THEN (SELECT a2 FROM {prev})\n"
           "       + " + nums[2] + " / det END AS a2,\n"
           "  CASE WHEN det > 0 THEN (SELECT b2 FROM {prev})\n"
           "       + " + nums[3] + " / det END AS b2\n"
           "  FROM (SELECT *, " + det_sql + " AS det\n"
           "        FROM (SELECT *, " + ialias + " FROM m{i})))")
    ctes = ["""grid AS MATERIALIZED (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END)
           AS BIGINT) AS n1,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS n2
  FROM lineitem GROUP BY 1)""",
            "bc0 AS (SELECT 0.0 AS a1, 0.0 AS b1, 0.0 AS a2, 0.0 AS b2)"]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + mom.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED" + upd.format(prev=prev, i=i))
        prev = f"bc{i}"
    ctes.append("fin AS MATERIALIZED" + mom.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT a1, b1, a2, b2 FROM {prev})")
    tail = ("\nSELECT 'A' AS class_ref, 'N' AS class_1, 'R' AS class_2,\n"
            "  CASE WHEN ok THEN round((SELECT a1 FROM bf), 5) + 0.0 END"
            " AS beta0_1,\n"
            "  CASE WHEN ok THEN round((SELECT b1 FROM bf), 5) + 0.0 END"
            " AS beta1_1,\n"
            "  CASE WHEN ok THEN round((SELECT a2 FROM bf), 5) + 0.0 END"
            " AS beta0_2,\n"
            "  CASE WHEN ok THEN round((SELECT b2 FROM bf), 5) + 0.0 END"
            " AS beta1_2,\n"
            "  CASE WHEN ok THEN round(sqrt(" + minors[1] + " / det), 5)"
            " + 0.0 END AS se_1,\n"
            "  CASE WHEN ok THEN round((SELECT b1 FROM bf)"
            " * (SELECT b1 FROM bf) / (" + minors[1] + " / det), 5)"
            " + 0.0 END AS wald_chi2_1,\n"
            "  CASE WHEN ok THEN round(sqrt(" + minors[3] + " / det), 5)"
            " + 0.0 END AS se_2,\n"
            "  CASE WHEN ok THEN round((SELECT b2 FROM bf)"
            " * (SELECT b2 FROM bf) / (" + minors[3] + " / det), 5)"
            " + 0.0 END AS wald_chi2_2,\n"
            "  coalesce(n, 0) AS n,\n"
            "  CASE WHEN ok THEN"
            " round(sqrt(u0 * u0 + u1 * u1 + u2 * u2 + u3 * u3), 5)"
            " + 0.0 END AS score_norm\n"
            "FROM (SELECT *, " + det_sql + " AS det,\n"
            "        (SELECT a1 FROM bf) IS NOT NULL AND "
            + det_sql + " > 0 AS ok\n"
            "      FROM (SELECT *, " + ialias + " FROM fin))\n")
    return "WITH " + ",\n".join(ctes) + tail


@q("dx_multinomial", _multinomial_sql(4))
def dx_multinomial_q(spark, sf):
    # Multinomial (softmax) logistic MLE (operators/assoc.py
    # multinomial_newton, r12 verdict #7): 3-class return-flag outcome
    # (A/N/R, A = reference) vs quantity — per class the log odds vs
    # the reference, jointly. One pass to the ~50-cell (quantity x
    # class-count) grid, collected once; each Newton step is a driver
    # pass over it + a 4x4 Cramer solve generated from the SAME
    # Leibniz term order as the oracle's CTE text.
    from clinpy_spark.operators.assoc import multinomial_newton

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.col("l_returnflag").alias("label"),
    )
    return multinomial_newton(li, "x", "label", iterations=4)


def _finegray_grid_ctes() -> str:
    """The surv_finegray family's shared oracle CTE prefix: subjects ->
    per-(arm, time) leavers -> censoring-KM -> IPCW-weighted per-event-
    time risk sums (t, s0, s1, d, dx). Mirrors operators/survival.py
    _finegray_weighted_grid window-for-window."""
    return """obs AS MATERIALIZED (
  SELECT LEAST(h % 1500 + 1, dd) AS t,
         CASE WHEN h % 1500 + 1 <= dd
              THEN CASE WHEN h % 3 = 0 THEN 2 ELSE 1 END
              ELSE 0 END AS st,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
leav AS MATERIALIZED (
  SELECT x, t, CAST(count(*) AS BIGINT) AS r,
         CAST(sum(CASE WHEN st = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN st = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM obs GROUP BY 1, 2),
tt AS (SELECT t, CAST(sum(r) AS BIGINT) AS r, CAST(sum(c) AS BIGINT) AS c,
              CAST(sum(d1) AS BIGINT) AS d1,
              CAST(sum(CASE WHEN x = 1 THEN d1 ELSE 0 END) AS BIGINT) AS d1x
       FROM leav GROUP BY t),
tw AS (SELECT *,
         sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS atr
       FROM tt),
tg AS MATERIALIZED (
  SELECT *,
    exp(coalesce(sum(lt) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)) AS g,
    exp(coalesce(sum(lt) OVER (ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS g_prev
  FROM (SELECT *, CASE WHEN c = 0 THEN 0.0
                       WHEN c < atr
                       THEN ln(1.0 - CAST(c AS DOUBLE) / atr) END AS lt
        FROM tw)),
cells AS MATERIALIZED (
  SELECT x, CAST(sum(r) AS BIGINT) AS tot FROM leav GROUP BY x),
u0 AS (SELECT c.x, tg.t, c.tot, tg.g_prev, tg.d1, tg.d1x,
              CAST(0 AS BIGINT) AS r, 0.0 AS wc, 0 AS il
       FROM tg CROSS JOIN cells c WHERE tg.d1 > 0
       UNION ALL
       SELECT l.x, l.t, c.tot, NULL, NULL, NULL, l.r,
              CAST(l.d2 AS DOUBLE) / t2.g, 1
       FROM leav l JOIN cells c ON l.x = c.x JOIN tg t2 ON t2.t = l.t),
a2 AS (SELECT x, t, g_prev, d1, d1x,
         tot - coalesce(sum(r) OVER (PARTITION BY x ORDER BY t, il
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
         coalesce(sum(wc) OVER (PARTITION BY x ORDER BY t, il
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cw,
         il
       FROM u0 QUALIFY il = 0),
per_t AS MATERIALIZED (
  SELECT t, sum(n + g_prev * cw ORDER BY x) AS s0,
         sum(CASE WHEN x = 1 THEN n + g_prev * cw ELSE 0.0 END
             ORDER BY x) AS s1,
         max(d1) AS d, max(d1x) AS dx
  FROM a2 GROUP BY t)"""


def _finegray_beta_sql(iterations: int) -> str:
    """surv_finegray_beta: the shared weighted grid, then the SAME
    chained Newton CTEs as surv_cox_beta over the weighted sums
    (s1e = s1 e^b, s0e = (s0 - s1) + s1 e^b — weights are beta-
    invariant, so the grid is built once)."""
    step = """ (SELECT sum(dx - d * s1e / s0e ORDER BY t) AS u,
        sum(d * (s1e / s0e) * (1 - s1e / s0e) ORDER BY t) AS i
   FROM (SELECT t, d, dx, s1 * exp((SELECT beta FROM {prev})) AS s1e,
                (s0 - s1) + s1 * exp((SELECT beta FROM {prev})) AS s0e
         FROM per_t))"""
    upd = """ (SELECT CASE WHEN i > 0
        THEN (SELECT beta FROM {prev}) + u / i END AS beta FROM i{k})"""
    ctes = [_finegray_grid_ctes(),
            "b0 AS (SELECT 0.0 AS beta)"]
    prev = "b0"
    for k in range(1, iterations + 1):
        ctes.append(f"i{k} AS MATERIALIZED" + step.format(prev=prev))
        ctes.append(f"b{k} AS MATERIALIZED" + upd.format(prev=prev, k=k))
        prev = f"b{k}"
    ctes.append("fin AS MATERIALIZED" + step.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT beta FROM {prev})")
    return "WITH " + ",\n".join(ctes) + """,
nev AS (SELECT CAST(sum(d) AS BIGINT) AS n_events FROM per_t)
SELECT CASE WHEN ok THEN round((SELECT beta FROM bf), 6) END AS beta,
       CASE WHEN ok THEN round(exp((SELECT beta FROM bf)), 6) END AS hr,
       CASE WHEN ok THEN round(1 / sqrt(i), 6) END AS se,
       CASE WHEN ok THEN round((SELECT beta FROM bf)
                               * (SELECT beta FROM bf) * i, 6)
       END AS wald_chi2,
       (SELECT coalesce(n_events, 0) FROM nev) AS n_events,
       (SELECT CAST(sum(CASE WHEN st = 2 THEN 1 ELSE 0 END) AS BIGINT)
        FROM obs) AS n_competing,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects
FROM (SELECT *, (SELECT beta FROM bf) IS NOT NULL AND i > 0 AS ok
      FROM fin)
"""


@q("surv_finegray_beta", _finegray_beta_sql(3))
def surv_finegray_beta_q(spark, sf):
    # Fine-Gray subdistribution-hazard MLE (operators/survival.py
    # finegray_newton): the effect-SIZE readout above the score test —
    # the subdistribution hazard ratio of URGENT vs LOW with a third
    # of events competing. The IPCW-weighted risk-set grid is built
    # once (beta-invariant weights); the oracle replays the same 3
    # Newton steps as chained CTEs over the same windowed grid. With
    # no competing events this IS cox_newton (property test).
    from clinpy_spark.operators.survival import finegray_newton

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("t"),
        F.when(followup <= dd,
               F.when(h % 3 == 0, 2).otherwise(1)).otherwise(0).alias("st"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("x"),
    )
    return finegray_newton(obs, "t", "st", "x", iterations=3)


@q("surv_rmst_diff", """
WITH obs AS MATERIALIZED (
  SELECT LEAST(h % 1500 + 1, dd) AS t,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS g
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
pt AS (SELECT g, t, CAST(sum(evt) AS BIGINT) AS d,
              CAST(sum(1 - evt) AS BIGINT) AS c
       FROM obs GROUP BY 1, 2),
ptn AS (SELECT *,
          sum(d + c) OVER (PARTITION BY g)
          - coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
        FROM pt),
ev AS MATERIALIZED (SELECT * FROM ptn WHERE d > 0 AND t <= 365.0),
km AS (SELECT *,
         sum(CASE WHEN d < n THEN ln(1 - CAST(d AS DOUBLE) / n)
             ELSE 0.0 END) OVER (PARTITION BY g ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum,
         max(CASE WHEN d >= n THEN 1 ELSE 0 END)
           OVER (PARTITION BY g ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zz
       FROM ev),
sg AS (SELECT *,
         CASE WHEN zz = 1 THEN 0.0 ELSE exp(lsum) END
           * (coalesce(CAST(lead(t) OVER (PARTITION BY g ORDER BY t)
                         AS DOUBLE), 365.0) - CAST(t AS DOUBLE)) AS seg
       FROM km),
ar AS (SELECT *,
         sum(seg) OVER (PARTITION BY g ORDER BY t
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS a_i
       FROM sg),
arm AS MATERIALIZED (
  SELECT g, CAST(min(t) AS DOUBLE) + sum(seg) AS rmst,
         sum(CASE WHEN n > d THEN a_i * a_i * d / (n * (n - d))
             ELSE 0.0 END) AS var
  FROM ar GROUP BY g),
cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS nn FROM obs GROUP BY g),
one AS (SELECT
   sum(CASE WHEN cnt.g = 'a' THEN coalesce(rmst, 365.0) END) AS ra,
   sum(CASE WHEN cnt.g = 'a' THEN coalesce(var, 0.0) END) AS va,
   CAST(sum(CASE WHEN cnt.g = 'a' THEN nn ELSE 0 END) AS BIGINT) AS n_a,
   sum(CASE WHEN cnt.g = 'b' THEN coalesce(rmst, 365.0) END) AS rb,
   sum(CASE WHEN cnt.g = 'b' THEN coalesce(var, 0.0) END) AS vb,
   CAST(sum(CASE WHEN cnt.g = 'b' THEN nn ELSE 0 END) AS BIGINT) AS n_b
  FROM cnt LEFT JOIN arm ON cnt.g = arm.g)
SELECT 365.0 AS tau,
       round(ra, 6) AS rmst_a, round(sqrt(va), 6) AS se_a, n_a,
       round(rb, 6) AS rmst_b, round(sqrt(vb), 6) AS se_b, n_b,
       round(ra - rb, 6) + 0.0 AS diff,
       round(sqrt(va + vb), 6) AS se_diff,
       CASE WHEN sqrt(va + vb) > 0
            THEN round((ra - rb) / sqrt(va + vb), 6) + 0.0 END AS z
FROM one
""")
def surv_rmst_diff_q(spark, sf):
    # Restricted mean survival time to 365 days WITH inference
    # (operators/survival.py rmst_diff): the model-free effect size — mean event-free days in the
    # first year, URGENT vs LOW — that stays valid when proportional
    # hazards fails and the hazard-ratio family (surv_cox_beta) does
    # not. KM area + Greenwood-type variance, all bounded-grid windows
    # the oracle replays verbatim.
    from clinpy_spark.operators.survival import rmst_diff

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("t"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.col("o_orderpriority").alias("arm"),
    )
    return rmst_diff(obs, "t", "evt", "arm", "1-URGENT", "5-LOW", 365.0)


def _ordinal_sql(iterations: int) -> str:
    """Chained-CTE replay of ordinal_newton's Fisher-scoring recurrence
    at k = 3 ordered levels: the moment expressions (score, expected
    information, minimum cell probability) are GENERATED by the same
    loop structure the Spark fitter evaluates — per-level derivative
    terms d_j(param) accumulated in identical order — and the 3x3
    update is the standing cofactor-Cramer text, so the two sides
    differ only by distributed-sum order (round-5 emission)."""
    k, m = 3, 3

    def g_name(j):
        return f"g{j}" if 1 <= j <= k - 1 else "0.0"

    def deriv(r, j):
        # params 0..k-2 = thresholds theta_{r+1}; param k-1 = slope
        if r == m - 1:
            return f"({g_name(j)} - {g_name(j - 1)}) * x"
        t = r + 1
        if j == t:
            return f"g{t}"
        if j == t + 1:
            return f"(- g{t})"
        return None

    aggs = []
    for r in range(1, k):
        aggs.append(
            f"sum(n{r} * (g{r} / p{r}) - n{r + 1} * (g{r} / p{r + 1}))"
            f" AS u{r - 1}")
    slope = "n1 * (g1 / p1)"
    for j in range(2, k):
        slope += f" + n{j} * ((g{j} - g{j - 1}) / p{j})"
    slope += f" - n{k} * (g{k - 1} / p{k})"
    aggs.append(f"sum(x * ({slope})) AS u{k - 1}")
    for r in range(m):
        for s in range(r, m):
            terms = []
            for j in range(1, k + 1):
                dr, ds = deriv(r, j), deriv(s, j)
                if dr is None or ds is None:
                    continue
                terms.append(f"{dr} * {ds} / p{j}")
            aggs.append(f"sum(nc * ({' + '.join(terms)})) AS i{r}{s}")
    aggs.append("min(least(p1, p2, p3)) AS pmin")
    mom = (" (SELECT " + ",\n         ".join(aggs) + """
   FROM (SELECT x, nc, n1, n2, n3,
                gam1 AS p1, gam2 - gam1 AS p2, 1.0 - gam2 AS p3,
                gam1 * (1 - gam1) AS g1, gam2 * (1 - gam2) AS g2
         FROM (SELECT x, CAST(n AS DOUBLE) AS nc, n1, n2, n - n1 - n2 AS n3,
                      1 / (1 + exp(-((SELECT th1 FROM {prev})
                                     + (SELECT b FROM {prev}) * x))) AS gam1,
                      1 / (1 + exp(-((SELECT th2 FROM {prev})
                                     + (SELECT b FROM {prev}) * x))) AS gam2
               FROM grid)))""")
    upd = """ (SELECT
        CASE WHEN ok2 THEN (SELECT th1 FROM {prev})
             + (u0 * (i11 * i22 - i12 * i12)
                - i01 * (u1 * i22 - i12 * u2)
                + i02 * (u1 * i12 - i11 * u2)) / det END AS th1,
        CASE WHEN ok2 THEN (SELECT th2 FROM {prev})
             + (i00 * (u1 * i22 - i12 * u2)
                - u0 * (i01 * i22 - i12 * i02)
                + i02 * (i01 * u2 - u1 * i02)) / det END AS th2,
        CASE WHEN ok2 THEN (SELECT b FROM {prev})
             + (i00 * (i11 * u2 - u1 * i12)
                - i01 * (i01 * u2 - u1 * i02)
                + u0 * (i01 * i12 - i11 * i02)) / det END AS b
        FROM (SELECT *, i00 * (i11 * i22 - i12 * i12)
                        - i01 * (i01 * i22 - i12 * i02)
                        + i02 * (i01 * i12 - i11 * i02) AS det,
                     i00 * (i11 * i22 - i12 * i12)
                     - i01 * (i01 * i22 - i12 * i02)
                     + i02 * (i01 * i12 - i11 * i02) > 0
                     AND pmin > 0 AS ok2
              FROM m{i}))"""
    ctes = ["""grid AS MATERIALIZED (
  SELECT CAST(o_custkey % 5 AS DOUBLE) AS x,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
           AS BIGINT) AS n1,
         CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
           AS BIGINT) AS n2
  FROM orders
  WHERE o_orderpriority IN ('3-MEDIUM', '2-HIGH', '1-URGENT')
  GROUP BY 1)""",
            """bc0 AS MATERIALIZED (
  SELECT ln(CAST(t1 AS DOUBLE) / (tn - t1)) AS th1,
         ln(CAST(t1 + t2 AS DOUBLE) / (tn - t1 - t2)) AS th2,
         0.0 AS b
  FROM (SELECT sum(n) AS tn, sum(n1) AS t1, sum(n2) AS t2 FROM grid))"""]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + mom.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED" + upd.format(prev=prev, i=i))
        prev = f"bc{i}"
    ctes.append("fin AS MATERIALIZED" + mom.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT th1, th2, b FROM {prev})")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round((SELECT th1 FROM bf), 5) + 0.0 END AS theta_1,
       CASE WHEN ok THEN round((SELECT th2 FROM bf), 5) + 0.0 END AS theta_2,
       CASE WHEN ok THEN round((SELECT b FROM bf), 5) + 0.0 END AS beta,
       CASE WHEN ok THEN round(exp((SELECT b FROM bf)), 5) + 0.0
       END AS or_beta,
       CASE WHEN ok THEN round(sqrt((i00 * i11 - i01 * i01) / det), 5) + 0.0
       END AS se_beta,
       CASE WHEN ok THEN round((SELECT b FROM bf) * (SELECT b FROM bf)
                               / ((i00 * i11 - i01 * i01) / det), 5) + 0.0
       END AS wald_chi2_beta,
       (SELECT CAST(sum(n) AS BIGINT) FROM grid) AS n,
       CASE WHEN ok
            THEN round(sqrt(u0 * u0 + u1 * u1 + u2 * u2), 5) + 0.0
       END AS score_norm
FROM (SELECT *, i00 * (i11 * i22 - i12 * i12)
                - i01 * (i01 * i22 - i12 * i02)
                + i02 * (i01 * i12 - i11 * i02) AS det,
             (SELECT th1 FROM bf) IS NOT NULL
             AND pmin > 0
             AND i00 * (i11 * i22 - i12 * i12)
                 - i01 * (i01 * i22 - i12 * i02)
                 + i02 * (i01 * i12 - i11 * i02) > 0 AS ok
      FROM fin)
"""


@q("dx_ordinal", _ordinal_sql(6))
def dx_ordinal_q(spark, sf):
    # Proportional-odds ordinal logistic (operators/assoc.py
    # ordinal_newton): order urgency grade (MEDIUM < HIGH < URGENT) vs
    # a customer band — ONE shared slope on the cumulative logits, the
    # severity/stage/dose-response model between binary logistic and
    # nominal multinomial. One pass to the 5-cell grid, collected once;
    # each Fisher step is a driver pass over it + a 3x3 Cramer solve; the
    # oracle's moment SQL is GENERATED by the same derivative-term
    # loop the fitter evaluates.
    from clinpy_spark.operators.assoc import ordinal_newton

    o = _t(spark, sf, "orders").select(
        (F.col("o_custkey") % 5).cast("double").alias("x"),
        F.col("o_orderpriority").alias("grade"),
    )
    return ordinal_newton(
        o, "x", "grade", ["3-MEDIUM", "2-HIGH", "1-URGENT"], iterations=6)


@q("curate_pii_scan", """
WITH d AS (SELECT concat_ws(' ', c_name, c_mktsegment,
    printf('%02d-%03d-%03d-%04d', c_custkey % 90 + 10,
           c_custkey % 900 + 100, c_nationkey % 900 + 100,
           c_custkey % 9000 + 1000),
    CASE WHEN c_custkey % 7 = 0
         THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.com' END,
    CASE WHEN c_custkey % 11 = 0
         THEN printf('%d.%d.%d.%d', c_custkey % 256, c_nationkey % 256,
                     c_custkey % 100, c_custkey % 250 + 1) END,
    CASE WHEN c_custkey % 13 = 0
         THEN printf('%03d-%02d-%04d', c_custkey % 900 + 100,
                     c_custkey % 90 + 10, c_custkey % 9000 + 1000) END
  ) AS text
  FROM customer),
s AS MATERIALIZED (SELECT
  length(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS pii_email,
  length(regexp_extract_all(text,
    '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS pii_phone,
  length(regexp_extract_all(text,
    '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS pii_ssn,
  length(regexp_extract_all(text,
    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS pii_ipv4
  FROM d)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN pii_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
  CAST(sum(pii_email) AS BIGINT) AS matches_email,
  CAST(sum(CASE WHEN pii_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_phone,
  CAST(sum(pii_phone) AS BIGINT) AS matches_phone,
  CAST(sum(CASE WHEN pii_ssn > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ssn,
  CAST(sum(pii_ssn) AS BIGINT) AS matches_ssn,
  CAST(sum(CASE WHEN pii_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_ipv4,
  CAST(sum(pii_ipv4) AS BIGINT) AS matches_ipv4,
  CAST(sum(CASE WHEN pii_email + pii_phone + pii_ssn + pii_ipv4 > 0
           THEN 1 ELSE 0 END) AS BIGINT) AS docs_any
FROM s
""")
def curate_pii_scan_q(spark, sf):
    # PII exposure summary (operators/curate.py pii_scan/pii_summary):
    # the pre-ship compliance gate. The driver's star schema carries no
    # free-text PII, so the fixture synthesizes a deterministic text
    # field (phone on every row; email/IPv4/SSN-shaped tokens on keyed
    # subsets) that the patterns GENUINELY hit; the operator itself is
    # a pure per-row regexp projection in the Java/RE2-agreeing subset
    # so DuckDB replays exact match counts. No shuffle beyond the
    # final 1-row reduce.
    from clinpy_spark.operators.curate import pii_summary

    c = _t(spark, sf, "customer")
    ck, nk = F.col("c_custkey"), F.col("c_nationkey")
    text = F.concat_ws(
        " ", F.col("c_name"), F.col("c_mktsegment"),
        F.format_string("%02d-%03d-%03d-%04d",
                        ck % 90 + 10, ck % 900 + 100,
                        nk % 900 + 100, ck % 9000 + 1000),
        F.when(ck % 7 == 0,
               F.concat(F.lit("user"), ck.cast("string"),
                        F.lit("@example.com"))),
        F.when(ck % 11 == 0,
               F.format_string("%d.%d.%d.%d", ck % 256, nk % 256,
                               ck % 100, ck % 250 + 1)),
        F.when(ck % 13 == 0,
               F.format_string("%03d-%02d-%04d", ck % 900 + 100,
                               ck % 90 + 10, ck % 9000 + 1000)),
    )
    return pii_summary(c.select(text.alias("text")), "text")


@q("dx_fleiss_kappa", """
WITH r AS (SELECT o_orderkey AS i, c FROM (
  SELECT o_orderkey,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'hi' ELSE 'lo' END AS r1,
         CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS r2,
         CASE WHEN o_orderkey % 3 = 0 THEN 'hi' ELSE 'lo' END AS r3
  FROM orders) t, unnest([r1, r2, r3]) AS u(c)),
cell AS MATERIALIZED (
  SELECT i, c, CAST(count(*) AS BIGINT) AS m FROM r GROUP BY i, c),
pi AS MATERIALIZED (
  SELECT i, CAST(sum(m) AS BIGINT) AS n,
         CAST(sum(m * m) AS BIGINT) AS ss
  FROM cell GROUP BY i),
keep AS (SELECT * FROM pi WHERE n = (SELECT max(n) FROM pi)),
st AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
              sum(CAST(ss - n AS DOUBLE) / (n * (n - 1))) AS psum
       FROM keep),
cm AS (SELECT c, CAST(sum(m) AS BIGINT) AS cm
       FROM cell JOIN keep USING (i) GROUP BY c),
ct AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
              CAST(sum(cm) AS BIGINT) AS tot,
              sum(CAST(cm AS DOUBLE) * cm * cm) AS c3,
              sum(CAST(cm AS DOUBLE) * cm) AS c2
       FROM cm)
SELECT n_items, 3 AS n_raters, n_categories,
       round(psum / n_items, 6) AS p_bar,
       round(c2 / (CAST(tot AS DOUBLE) * tot), 6) AS p_e,
       CASE WHEN c2 / (CAST(tot AS DOUBLE) * tot) < 1
            THEN round((psum / n_items - c2 / (CAST(tot AS DOUBLE) * tot))
                       / (1 - c2 / (CAST(tot AS DOUBLE) * tot)), 6) + 0.0
       END AS kappa,
       CASE WHEN c2 / (CAST(tot AS DOUBLE) * tot) < 1
            THEN round(sqrt(2 / (n_items * 3.0 * (3.0 - 1)))
                       * sqrt(c2 / (CAST(tot AS DOUBLE) * tot)
                              - (2 * 3.0 - 3)
                                * ((c2 / (CAST(tot AS DOUBLE) * tot))
                                   * (c2 / (CAST(tot AS DOUBLE) * tot)))
                              + 2 * (3.0 - 2)
                                * (c3 / (CAST(tot AS DOUBLE) * tot * tot)))
                       / (1 - c2 / (CAST(tot AS DOUBLE) * tot)), 6)
       END AS se0,
       CASE WHEN c2 / (CAST(tot AS DOUBLE) * tot) < 1
            AND sqrt(2 / (n_items * 3.0 * (3.0 - 1)))
                * sqrt(c2 / (CAST(tot AS DOUBLE) * tot)
                       - (2 * 3.0 - 3)
                         * ((c2 / (CAST(tot AS DOUBLE) * tot))
                            * (c2 / (CAST(tot AS DOUBLE) * tot)))
                       + 2 * (3.0 - 2)
                         * (c3 / (CAST(tot AS DOUBLE) * tot * tot)))
                / (1 - c2 / (CAST(tot AS DOUBLE) * tot)) > 0
            THEN round(((psum / n_items - c2 / (CAST(tot AS DOUBLE) * tot))
                        / (1 - c2 / (CAST(tot AS DOUBLE) * tot)))
                       / (sqrt(2 / (n_items * 3.0 * (3.0 - 1)))
                          * sqrt(c2 / (CAST(tot AS DOUBLE) * tot)
                                 - (2 * 3.0 - 3)
                                   * ((c2 / (CAST(tot AS DOUBLE) * tot))
                                      * (c2 / (CAST(tot AS DOUBLE) * tot)))
                                 + 2 * (3.0 - 2)
                                   * (c3 / (CAST(tot AS DOUBLE) * tot * tot)))
                          / (1 - c2 / (CAST(tot AS DOUBLE) * tot))), 6) + 0.0
       END AS z
FROM st CROSS JOIN ct
""")
def dx_fleiss_kappa_q(spark, sf):
    # Fleiss' kappa (operators/assoc.py fleiss_kappa): do THREE
    # deterministic 'urgency raters' (priority-, price-, and
    # key-parity-based) agree beyond chance — the multi-annotator
    # label-quality audit above dx_cohen_kappa's two-rater form. One
    # groupBy to the (item, category) counts, one per-item reduce,
    # one bounded category reduce; exact integers until the final
    # ratios.
    from clinpy_spark.operators.assoc import fleiss_kappa

    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("i"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi")
        .otherwise("lo").alias("r1"),
        F.when(F.col("o_totalprice") > 150000, "hi").otherwise("lo")
        .alias("r2"),
        F.when(F.col("o_orderkey") % 3 == 0, "hi").otherwise("lo")
        .alias("r3"),
    )
    long = o.select(
        "i", F.explode(F.array("r1", "r2", "r3")).alias("c"))
    return fleiss_kappa(long, "i", "c")


@q("dx_kendall_tau", """
WITH g AS MATERIALIZED (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_linenumber AS DOUBLE) AS y,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2),
cd AS (SELECT
    CAST(sum(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
      AS c_pairs,
    CAST(sum(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
      AS d_pairs
  FROM g a JOIN g b ON a.x < b.x),
tx AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS t2x,
              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vtx,
              CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS t3x
       FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY x)),
ty AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS t2y,
              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vty,
              CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS t3y
       FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY y)),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM g)
SELECT n, c_pairs AS concordant, d_pairs AS discordant,
       CAST(t2x / 2 AS BIGINT) AS pairs_tied_x,
       CAST(t2y / 2 AS BIGINT) AS pairs_tied_y,
       CASE WHEN sqrt((CAST(n AS DOUBLE) * (n - 1) / 2
                       - CAST(t2x AS DOUBLE) / 2)
                      * (CAST(n AS DOUBLE) * (n - 1) / 2
                         - CAST(t2y AS DOUBLE) / 2)) > 0
            THEN round(CAST(c_pairs - d_pairs AS DOUBLE)
                       / sqrt((CAST(n AS DOUBLE) * (n - 1) / 2
                               - CAST(t2x AS DOUBLE) / 2)
                              * (CAST(n AS DOUBLE) * (n - 1) / 2
                                 - CAST(t2y AS DOUBLE) / 2)), 6) + 0.0
       END AS tau_b,
       CASE WHEN sqrt((CAST(n AS DOUBLE) * (n - 1) / 2
                       - CAST(t2x AS DOUBLE) / 2)
                      * (CAST(n AS DOUBLE) * (n - 1) / 2
                         - CAST(t2y AS DOUBLE) / 2)) > 0
            AND (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - vtx - vty) / 18
                + CAST(t2x AS DOUBLE) * t2y
                  / (2 * CAST(n AS DOUBLE) * (n - 1))
                + CAST(t3x AS DOUBLE) * t3y
                  / (9 * CAST(n AS DOUBLE) * (n - 1) * (n - 2)) > 0
            THEN round(CAST(c_pairs - d_pairs AS DOUBLE)
                       / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                               - vtx - vty) / 18
                              + CAST(t2x AS DOUBLE) * t2y
                                / (2 * CAST(n AS DOUBLE) * (n - 1))
                              + CAST(t3x AS DOUBLE) * t3y
                                / (9 * CAST(n AS DOUBLE) * (n - 1)
                                   * (n - 2))), 6) + 0.0
       END AS z
FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot
""")
def dx_kendall_tau_q(spark, sf):
    # Kendall's tau-b (operators/assoc.py kendall_tau_b): quantity vs
    # line number with FULL tie adjustment — the tie-robust companion
    # to dx_spearman on heavily-tied small-integer data. Pair counts
    # are a |cells|^2 inequality join of the bounded joint grid against
    # its literal-inlined copy (never n^2); ties from the marginals;
    # exact integers to the final ratios.
    from clinpy_spark.operators.assoc import kendall_tau_b

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.col("l_linenumber").alias("y"))
    return kendall_tau_b(li, "x", "y")


@q("gx_king_kinship", f"""
WITH g AS ({_GRID_GENO_SQL}),
s AS (SELECT c_custkey AS smp, variant, gt FROM g
     WHERE c_custkey % 67 = 0 AND c_custkey <= 15000),
p AS (SELECT a.smp AS s1, b.smp AS s2,
             CAST(count(*) AS BIGINT) AS n_shared,
             CAST(sum(CASE WHEN a.gt = 1 AND b.gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_het,
             CAST(sum(CASE WHEN (a.gt = 0 AND b.gt = 2)
                             OR (a.gt = 2 AND b.gt = 0)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_opp_hom,
             CAST(sum(CASE WHEN a.gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS het_1,
             CAST(sum(CASE WHEN b.gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS het_2
      FROM s a JOIN s b ON a.variant = b.variant AND a.smp < b.smp
      GROUP BY a.smp, b.smp)
SELECT s1, s2, n_shared, n_both_het, n_opp_hom, het_1, het_2,
       CASE WHEN het_1 + het_2 > 0
            THEN round((n_both_het - 2.0 * n_opp_hom) / (het_1 + het_2), 6)
       END AS kinship,
       CASE WHEN het_1 + het_2 <= 0 THEN 'undefined'
            WHEN (n_both_het - 2.0 * n_opp_hom) / (het_1 + het_2) > 0.3536 THEN 'dup/MZ'
            WHEN (n_both_het - 2.0 * n_opp_hom) / (het_1 + het_2) > 0.1768 THEN '1st-degree'
            WHEN (n_both_het - 2.0 * n_opp_hom) / (het_1 + het_2) > 0.0884 THEN '2nd-degree'
            WHEN (n_both_het - 2.0 * n_opp_hom) / (het_1 + het_2) > 0.0442 THEN '3rd-degree'
            ELSE 'unrelated'
       END AS degree
FROM p
""")
def gx_king_kinship_q(spark, sf):
    # KING-robust pairwise kinship (operators/assoc.py king_kinship,
    # Manichaikul 2010) over a hash-selected sub-cohort of the dense
    # genotype grid: the cryptic-relatedness screen run before any
    # association modelling. The self-join is keyed on the VARIANT
    # (equi-join, the 100 TB axis streams linearly); pair count is
    # quadratic only in the bounded cohort — the statistic's intrinsic
    # output size.
    from clinpy_spark.operators.assoc import king_kinship

    # Phenotype cohorts are bounded by ENROLLMENT, not corpus growth:
    # pin the screen to the first 15000 custkeys (the full population
    # at sf <= 0.1) so the intrinsically-quadratic pair count stays a
    # cohort property — at sf1 the sweep otherwise fits alpha 1.6 on
    # what is really "you asked for 10x more samples".
    g = _grid_geno(spark, sf).filter(
        (F.col("c_custkey") % 67 == 0) & (F.col("c_custkey") <= 15000))
    return king_kinship(g, "c_custkey", "variant", "gt")


@q("graph_adamic_adar", f"""
WITH e0 AS ({_COPURCHASE_SQL}),
e AS MATERIALIZED (SELECT u, v FROM e0),
b AS MATERIALIZED (SELECT u AS w, v AS n FROM e UNION ALL SELECT v AS w, u AS n FROM e),
deg AS (SELECT w, count(*) AS deg FROM b GROUP BY w),
c AS MATERIALIZED (SELECT b.w, b.n, d.deg FROM b JOIN deg d ON b.w = d.w
                   WHERE d.deg BETWEEN 2 AND 64),
wed AS (SELECT x.n AS u, y.n AS v, x.deg AS wdeg
        FROM c x JOIN c y ON x.w = y.w AND x.n < y.n),
sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors,
              round(sum(1.0 / ln(wdeg)), 6) AS adamic_adar
       FROM wed GROUP BY u, v HAVING count(*) >= 2)
SELECT u AS x, v AS y, common_neighbors, adamic_adar
FROM sc
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = sc.u AND e.v = sc.v)
""")
def graph_adamic_adar_q(spark, sf):
    # Adamic-Adar link prediction on the co-purchase graph
    # (operators/graph.py adamic_adar): which part pairs SHOULD be
    # connected but aren't — the merge-proposal readout downstream of
    # the kNN graph. Wedge fan-out is bounded by the center-degree cap
    # (hubs carry ~zero AA weight by design — the celebrity problem),
    # so enumeration is linear in edges for a fixed cap; the oracle
    # replays the same cap, threshold, and adjacency anti-join.
    from clinpy_spark.operators.graph import adamic_adar

    return adamic_adar(
        _copurchase(spark, sf), "u", "v",
        max_center_degree=64, min_common=2)



@q("graph_label_prop", f"""
WITH e0 AS ({_COPURCHASE_SQL}),
b AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
l0 AS MATERIALIZED (SELECT DISTINCT u, u AS label FROM b),
v1 AS (SELECT u, label, count(*) AS n FROM (
         SELECT b.u, l.label FROM b JOIN l0 l ON l.u = b.v
         UNION ALL SELECT u, label FROM l0) GROUP BY u, label),
l1 AS MATERIALIZED (SELECT u, label FROM (
         SELECT u, label,
                row_number() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rn
         FROM v1) WHERE rn = 1),
v2 AS (SELECT u, label, count(*) AS n FROM (
         SELECT b.u, l.label FROM b JOIN l1 l ON l.u = b.v
         UNION ALL SELECT u, label FROM l1) GROUP BY u, label),
l2 AS MATERIALIZED (SELECT u, label FROM (
         SELECT u, label,
                row_number() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rn
         FROM v2) WHERE rn = 1),
v3 AS (SELECT u, label, count(*) AS n FROM (
         SELECT b.u, l.label FROM b JOIN l2 l ON l.u = b.v
         UNION ALL SELECT u, label FROM l2) GROUP BY u, label),
l3 AS MATERIALIZED (SELECT u, label FROM (
         SELECT u, label,
                row_number() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rn
         FROM v3) WHERE rn = 1)
SELECT u AS node, label AS community FROM l3
""")
def graph_label_prop_q(spark, sf):
    # Synchronous label propagation with deterministic min-label
    # tie-break (operators/graph.py label_propagation), 3 unrolled
    # rounds on the co-purchase graph: community structure without the
    # async variant's run-to-run nondeterminism. Each round is three
    # node-keyed shuffles; the oracle replays the identical recurrence
    # (row_number over (count DESC, label ASC) == the struct argmax).
    from clinpy_spark.operators.graph import label_propagation

    return label_propagation(_copurchase(spark, sf), "u", "v", rounds=3)


@q("gx_breslow_day", f"""
WITH g AS ({_GRID_GENO_SQL}),
j AS (SELECT c.c_nationkey % 5 AS s,
             CASE WHEN g.gt > 0 THEN 1 ELSE 0 END AS e,
             CASE WHEN g.is_case THEN 1 ELSE 0 END AS y
      FROM g JOIN customer c ON g.c_custkey = c.c_custkey
      WHERE g.variant = 7),
k AS MATERIALIZED (SELECT s, CAST(sum(e * y) AS BIGINT) AS a,
             CAST(sum((1 - e) * y) AS BIGINT) AS b,
             CAST(sum(e * (1 - y)) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d
      FROM j GROUP BY s),
mh AS MATERIALIZED (
  SELECT CASE WHEN sum(CASE WHEN a + b + c + d > 0
                      THEN CAST(b AS DOUBLE) * c / (a + b + c + d)
                      ELSE 0 END) > 0
         THEN sum(CASE WHEN a + b + c + d > 0
                  THEN CAST(a AS DOUBLE) * d / (a + b + c + d)
                  ELSE 0 END)
              / sum(CASE WHEN a + b + c + d > 0
                    THEN CAST(b AS DOUBLE) * c / (a + b + c + d)
                    ELSE 0 END)
         END AS psi
  FROM k),
m AS (SELECT a, psi,
             CAST(a + b AS DOUBLE) AS m1, CAST(a + c AS DOUBLE) AS n1,
             CAST(a + b + c + d AS DOUBLE) AS t
      FROM k CROSS JOIN mh),
q2 AS (SELECT a, psi, m1, n1, t,
              1 - psi AS qa,
              (t - m1 - n1) + psi * (m1 + n1) AS qb,
              -psi * m1 * n1 AS qc,
              GREATEST(0.0, m1 + n1 - t) AS lo, LEAST(m1, n1) AS hi,
              psi IS NOT NULL AND m1 > 0 AND n1 > 0
              AND t - m1 > 0 AND t - n1 > 0 AS inf_
       FROM m),
rt AS (SELECT a, psi, m1, n1, t, inf_,
              CASE WHEN inf_ THEN
                CASE WHEN abs(qa) < 0.000000000001 THEN m1 * n1 / t
                     WHEN (-qb + sqrt(qb * qb - 4 * qa * qc)) / (2 * qa) > lo
                      AND (-qb + sqrt(qb * qb - 4 * qa * qc)) / (2 * qa) < hi
                     THEN (-qb + sqrt(qb * qb - 4 * qa * qc)) / (2 * qa)
                     WHEN (-qb - sqrt(qb * qb - 4 * qa * qc)) / (2 * qa) > lo
                      AND (-qb - sqrt(qb * qb - 4 * qa * qc)) / (2 * qa) < hi
                     THEN (-qb - sqrt(qb * qb - 4 * qa * qc)) / (2 * qa)
                END END AS fa
       FROM q2),
sc AS (SELECT a, psi, fa,
              CASE WHEN fa IS NOT NULL
                   THEN 1 / (1 / fa + 1 / (m1 - fa) + 1 / (n1 - fa)
                             + 1 / (t - m1 - n1 + fa)) END AS v
       FROM rt),
ag AS (SELECT sum(CASE WHEN fa IS NOT NULL
                  THEN (CAST(a AS DOUBLE) - fa) * (CAST(a AS DOUBLE) - fa) / v
                  END) AS bd,
              sum(CASE WHEN fa IS NOT NULL
                  THEN CAST(a AS DOUBLE) - fa END) AS rs,
              sum(CASE WHEN fa IS NOT NULL THEN v END) AS vs,
              CAST(sum(CASE WHEN fa IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_informative,
              CAST(count(*) AS BIGINT) AS n_strata,
              max(psi) AS psi
       FROM sc)
SELECT CASE WHEN n_informative >= 2 AND psi IS NOT NULL
            THEN round(bd, 6) END AS bd_chi2,
       CASE WHEN n_informative >= 2 AND psi IS NOT NULL AND vs > 0
            THEN round(bd - rs * rs / vs, 6) END AS tarone_chi2,
       CASE WHEN n_informative >= 2 AND psi IS NOT NULL
            THEN n_informative - 1 END AS df,
       n_strata, n_informative,
       CASE WHEN n_informative >= 2 AND psi IS NOT NULL
            THEN round(psi, 6) END AS or_mh
FROM ag
""")
def gx_breslow_day_q(spark, sf):
    # Breslow-Day homogeneity test (operators/assoc.py breslow_day)
    # over the SAME nation-stratified carrier-vs-phenotype 2x2s as
    # gx_cmh_nation: is the odds ratio actually COMMON across strata —
    # the check that licenses CMH pooling (Tarone-corrected form
    # included). Per-stratum closed-form quadratic root for the fitted
    # cell under the MH common OR; one grid groupBy + one bounded
    # reduce.
    from clinpy_spark.operators.assoc import breslow_day

    g = _grid_geno(spark, sf).filter(F.col("variant") == 7)
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    j = g.join(cust, "c_custkey").select(
        (F.col("c_nationkey") % 5).alias("stratum"),
        (F.col("gt") > 0).cast("int").alias("exposed"),
        F.col("is_case").cast("int").alias("case"),
    )
    return breslow_day(j, "stratum", "exposed", "case")


@q("gx_cmh_nation", f"""
WITH g AS ({_GRID_GENO_SQL}),
j AS (SELECT c.c_nationkey % 5 AS s,
             CASE WHEN g.gt > 0 THEN 1 ELSE 0 END AS e,
             CASE WHEN g.is_case THEN 1 ELSE 0 END AS y
      FROM g JOIN customer c ON g.c_custkey = c.c_custkey
      WHERE g.variant = 7),
k AS (SELECT s, CAST(sum(e * y) AS BIGINT) AS a,
             CAST(sum((1 - e) * y) AS BIGINT) AS b,
             CAST(sum(e * (1 - y)) AS BIGINT) AS c,
             CAST(sum((1 - e) * (1 - y)) AS BIGINT) AS d
      FROM j GROUP BY s),
x AS (SELECT a, b, c, d,
             CAST(a + b + c + d AS DOUBLE) AS t,
             CAST(a + b AS DOUBLE) AS m1,
             CAST(a + c AS DOUBLE) AS n1
      FROM k),
agg AS (SELECT
   sum(CASE WHEN t > 0 THEN a - n1 * m1 / t ELSE 0 END) AS u,
   sum(CASE WHEN t > 1
            THEN n1 * (t - n1) * m1 * (t - m1) / (t * t * (t - 1))
            ELSE 0 END) AS v,
   sum(CASE WHEN t > 0 THEN a * d / t ELSE 0 END) AS ad,
   sum(CASE WHEN t > 0 THEN b * c / t ELSE 0 END) AS bc,
   CAST(count(*) AS BIGINT) AS n_strata,
   CAST(sum(a + b + c + d) AS BIGINT) AS n
   FROM x)
SELECT CASE WHEN v > 0
            THEN round((abs(u) - 0.5) * (abs(u) - 0.5) / v, 6) END AS cmh_chi2,
       CASE WHEN bc > 0 THEN round(ad / bc, 6) END AS or_mh,
       n_strata, n
FROM agg
""")
def gx_cmh_nation_q(spark, sf):
    # Cochran-Mantel-Haenszel test (operators/assoc.py cmh_test):
    # carrier-vs-phenotype association for one variant, stratified by
    # nation band — the confounder-adjusted 2x2 sibling of the
    # stratified log-rank. One groupBy to the per-stratum table, one
    # bounded aggregate; continuity-corrected 1-df chi2 + the MH
    # common odds ratio.
    from clinpy_spark.operators.assoc import cmh_test

    g = _grid_geno(spark, sf).filter(F.col("variant") == 7)
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    j = g.join(cust, "c_custkey").select(
        (F.col("c_nationkey") % 5).alias("stratum"),
        (F.col("gt") > 0).cast("int").alias("exposed"),
        F.col("is_case").cast("int").alias("case"),
    )
    return cmh_test(j, "stratum", "exposed", "case")


@q("dx_mannwhitney", """
WITH t AS (SELECT o_totalprice AS v,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
pv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS na,
              CAST(sum(1 - ia) AS BIGINT) AS nb
       FROM t GROUP BY v),
r AS (SELECT na, nb,
             CAST(coalesce(sum(na + nb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS bef,
             CAST(na + nb AS DOUBLE) AS c
      FROM pv),
a AS (SELECT sum(CAST(na AS DOUBLE) * (bef + (c + 1) / 2)) AS r_a,
             CAST(sum(na) AS BIGINT) AS n_a,
             CAST(sum(nb) AS BIGINT) AS n_b,
             sum(c * c * c - c) AS tie,
             CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
      FROM r),
f AS (SELECT r_a, n_a, n_b, tie, n_ties,
             r_a - n_a * (n_a + 1.0) / 2 AS u_a,
             CAST(n_a AS DOUBLE) * n_b / 12
               * ((n_a + n_b + 1)
                  - tie / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))) AS var
      FROM a)
SELECT round(u_a, 6) AS u_a, round(r_a, 6) AS r_a, n_a, n_b,
       CASE WHEN var > 0
            THEN round((u_a - CAST(n_a AS DOUBLE) * n_b / 2) / sqrt(var), 6)
       END AS z,
       n_ties
FROM f
""")
def dx_mannwhitney_q(spark, sf):
    # Mann-Whitney U / Wilcoxon rank-sum (operators/assoc.py
    # mann_whitney_u): does URGENT order value tend higher than LOW,
    # with no normality assumption. Midranks from the per-distinct-
    # value aggregate (the KS compromise), and every midrank is a
    # half-integer so all sums are EXACT in doubles — the oracle
    # matches bit-for-bit regardless of summation order.
    from clinpy_spark.operators.assoc import mann_whitney_u

    o = _t(spark, sf, "orders")
    return mann_whitney_u(
        o, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW")


@q("e_cusum_shift", """
WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1),
s AS (SELECT CAST(datediff('day', DATE '1970-01-01', day) AS DOUBLE) AS p, x
      FROM d),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS tot FROM s),
c AS (SELECT p, x,
             CAST(sum(x) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(row_number() OVER (ORDER BY p) AS BIGINT) AS t
      FROM s),
dd AS (SELECT p, n, tot, n * cum - t * tot AS d FROM c CROSS JOIN tot),
e2 AS (SELECT p, n, tot, d,
              d - LEAST(CAST(0 AS BIGINT), min(d) OVER (ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sp,
              GREATEST(CAST(0 AS BIGINT), max(d) OVER (ORDER BY p
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - d AS sn
       FROM dd)
SELECT CAST(max(n) AS BIGINT) AS n_periods,
       round(CAST(max(tot) AS DOUBLE) / max(n), 6) AS mean_x,
       round(CAST(max(sp) AS DOUBLE) / max(n), 6) AS max_cusum_pos,
       (SELECT min(p) FROM e2 WHERE sp = (SELECT max(sp) FROM e2)) AS t_pos,
       round(CAST(max(sn) AS DOUBLE) / max(n), 6) AS max_cusum_neg,
       (SELECT min(p) FROM e2 WHERE sn = (SELECT max(sn) FROM e2)) AS t_neg
FROM e2
""")
def e_cusum_shift_q(spark, sf):
    # Page's CUSUM mean-shift detector on the per-day event volume
    # (operators/windows.py cusum_changepoint): did ingest volume
    # shift, and on what day. All running sums on the integer-scaled
    # series n*C_t - t*total, so the oracle reproduces every bit; the
    # ordered window runs over days, not events.
    from clinpy_spark.operators.windows import cusum_changepoint

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x"))
    ser = daily.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .alias("p"),
        "x",
    )
    return cusum_changepoint(ser, "p", "x")



@q("sim_topk_hamming")
def sim_topk_hamming_q(spark, sf):
    # Binary thermometer quantization ANN (operators/similarity.py
    # hamming_topk): 3 per-dimension quantile thresholds pack each
    # vector into 192 bits, Hamming distance = quantized L1, exact
    # cosine re-rank of the shortlist. The scan phase reads 24 bytes
    # per vector (10x less than the float column) as fused
    # bit_count(xor) codegen — the cheapest code-only scan in the ANN
    # family.
    from clinpy_spark.operators.similarity import hamming_topk

    emb = _t(spark, sf, "embeddings")
    # limit(50) = plan-level probe bound (row-wise no-op, ids unique);
    # lets the shape audit prove the code-scan nested loop bounded.
    return hamming_topk(
        emb.filter(F.col("vec_id") < 50).limit(50), emb, k=5, shortlist=50)


@q("sim_recall_hamming", _recall_oracle("hamming", 0.8))
def sim_recall_hamming_q(spark, sf):
    # Recall contract for thermometer-Hamming + exact re-rank
    # (operators/similarity.py hamming_topk): floor 0.8 (measured
    # 0.952 at sf0.01, 0.848 at sf0.1 with shortlist 100 — the 1-bit
    # sign variant measured only 0.668/0.588, which is why the code
    # uses 3 thresholds per dim).
    from clinpy_spark.operators.similarity import hamming_topk

    return _recall_gate(
        spark, sf, "hamming", 0.8,
        lambda qs, emb, k: hamming_topk(qs, emb, k=k, shortlist=100))



@q("gx_tajima_d", f"""
WITH g AS ({_GRID_GENO_SQL}),
pv AS (SELECT gene, variant, CAST(sum(gt) AS BIGINT) AS ca,
              CAST(2 * count(*) AS BIGINT) AS nv
       FROM g GROUP BY gene, variant),
pg AS (SELECT gene,
              CAST(sum(CASE WHEN ca > 0 AND ca < nv THEN 1 ELSE 0 END) AS BIGINT) AS s,
              sum(CASE WHEN ca > 0 AND ca < nv
                       THEN ca * (nv - ca) / (nv * (nv - 1) / 2.0)
                       ELSE 0 END) AS pi,
              max(nv) AS n
       FROM pv GROUP BY gene),
hx AS (SELECT gene, unnest(generate_series(CAST(1 AS BIGINT), n - 1)) AS i FROM pg),
h AS (SELECT gene, sum(1.0 / i) AS a1, sum(1.0 / (i * i)) AS a2
      FROM hx GROUP BY gene),
j AS (SELECT pg.gene, s, pi, n, a1, a2,
             (n + 1) / (3.0 * (n - 1)) AS b1,
             2.0 * (n * n + n + 3) / (9.0 * n * (n - 1)) AS b2
      FROM pg JOIN h ON pg.gene = h.gene),
f AS (SELECT gene, s, pi, n, a1, a2,
             (b1 - 1.0 / a1) / a1 AS e1,
             (b2 - (n + 2) / (a1 * n) + a2 / (a1 * a1)) / (a1 * a1 + a2) AS e2
      FROM j)
SELECT gene, s AS s_sites, n AS n_chrom,
       round(pi, 6) AS pi,
       CASE WHEN s > 0 THEN round(s / a1, 6) END AS theta_w,
       CASE WHEN s > 0 AND e1 * s + e2 * s * (s - 1) > 0
            THEN round((pi - s / a1) / sqrt(e1 * s + e2 * s * (s - 1)), 6)
       END AS tajima_d
FROM f
""")
def gx_tajima_d_q(spark, sf):
    # Tajima's D neutrality scan per gene (operators/assoc.py
    # tajima_d, Tajima 1989) over the dense genotype grid: pairwise
    # diversity pi vs Watterson's theta from segregating sites, with
    # the harmonic-sum constants computed DISTRIBUTED by exploding a
    # per-gene 1..n-1 sequence (cohort-bounded). The 100 TB variant
    # axis reduces to per-(gene, variant) counts in the first groupBy.
    from clinpy_spark.operators.assoc import tajima_d

    return tajima_d(_grid_geno(spark, sf), "gene", "variant", "gt")



@q("dx_levene", """
WITH t AS (SELECT o_orderpriority AS g, o_totalprice AS x FROM orders),
m AS (SELECT g, quantile_cont(x, 0.5) AS med FROM t GROUP BY g),
z AS (SELECT t.g, abs(t.x - m.med) AS z FROM t JOIN m ON t.g = m.g),
pg AS (SELECT g, CAST(count(*) AS BIGINT) AS nj, sum(z) AS sz,
              sum(z * z) AS szz
       FROM z GROUP BY g),
a AS (SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(sz) AS s, sum(szz - sz * sz / nj) AS ssw,
             sum(sz * sz / nj) AS sb
      FROM pg)
SELECT CASE WHEN k > 1 AND ssw > 0
            THEN round((CAST(n AS DOUBLE) - k) / (k - 1)
                       * (sb - s * s / CAST(n AS DOUBLE)) / ssw, 6)
       END AS f_stat,
       (k - 1) AS df1, (n - k) AS df2, n, k
FROM a
""")
def dx_levene_q(spark, sf):
    # Brown-Forsythe variance-equality test (operators/assoc.py
    # brown_forsythe): are order values equally dispersed across the 5
    # priority arms? Median-based deviations so heavy tails don't read
    # as variance differences — the check run before any pooled-
    # variance contrast. One percentile agg (k-row broadcast), one
    # moment pass, one k-row fold.
    from clinpy_spark.operators.assoc import brown_forsythe

    return brown_forsythe(
        _t(spark, sf, "orders"), "o_totalprice", "o_orderpriority")


@q("dedup_containment", """
WITH ntoks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents),
shng AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
         ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN generate_series(1, len(tk) - 2)]
    END) AS s
  FROM ntoks),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shng GROUP BY doc_id),
dfq AS (SELECT s FROM shng GROUP BY s HAVING count(*) <= 200),
kept AS (SELECT doc_id, s FROM shng JOIN dfq USING (s)),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS inter
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
       round(CAST(inter AS DOUBLE) / sa.sz, 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = inter.id_a
JOIN sizes sb ON sb.doc_id = inter.id_b
WHERE round(CAST(inter AS DOUBLE) / sa.sz, 6) >= 0.6
""")
def dedup_containment_q(spark, sf):
    # Directional containment near-dup (operators/dedup.py
    # containment_pairs): |Sa∩Sb|/|Sa| >= 0.6 over word-3-shingles —
    # the quote/boilerplate/subset detector Jaccard misses (a short
    # doc quoted whole inside a long one scores ~1 here, ~0 there).
    # Candidates from a df-capped shingle equi-join; no all-pairs path.
    from clinpy_spark.operators.dedup import containment_pairs

    return containment_pairs(
        _t(spark, sf, "documents"), "doc_id", "text",
        shingle_n=3, threshold=0.6, max_shingle_df=200)


@q("dedup_containment_apply", """
WITH ntoks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents),
shng AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(tk) <= 2 THEN [array_to_string(tk, ' ')]
         ELSE [array_to_string(tk[i:i+2], ' ') FOR i IN generate_series(1, len(tk) - 2)]
    END) AS s
  FROM ntoks),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM shng GROUP BY doc_id),
dfq AS (SELECT s FROM shng GROUP BY s HAVING count(*) <= 200),
kept AS (SELECT doc_id, s FROM shng JOIN dfq USING (s)),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS inter
          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id <> b.doc_id
          GROUP BY a.doc_id, b.doc_id),
prs AS (SELECT id_a, id_b, sa.sz AS size_a, sb.sz AS size_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = inter.id_a
        JOIN sizes sb ON sb.doc_id = inter.id_b
        WHERE round(CAST(inter AS DOUBLE) / sa.sz, 6) >= 0.6),
losers AS (SELECT DISTINCT id_a FROM prs
           WHERE size_b > size_a
              OR (size_b = size_a AND id_b < id_a))
SELECT d.doc_id
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id_a = d.doc_id)
""")
def dedup_containment_apply_q(spark, sf):
    # Containment dedup ACTION (operators/dedup.py
    # apply_containment_dedup, r11 verdict #6): drop every document
    # contained (>= 0.6 of its 3-shingles) in a strictly longer one
    # (size ties to the smaller id) — keep-LONGEST, the directional
    # composition quote/boilerplate subsumption needs, where
    # apply_near_dedup's keep-min would keep the quote and drop the
    # source. Kept-doc set hash-matched against the oracle replay.
    from clinpy_spark.operators.dedup import (
        apply_containment_dedup, containment_pairs,
    )

    docs = _t(spark, sf, "documents")
    prs = containment_pairs(docs, "doc_id", "text",
                            shingle_n=3, threshold=0.6, max_shingle_df=200)
    return apply_containment_dedup(docs, prs, "doc_id").select("doc_id")


@q("surv_ph_check", """
WITH obs AS (
  SELECT LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
pt AS (SELECT duration AS t,
         CAST(sum(evt) AS BIGINT) AS d,
         CAST(sum(evt * x) AS BIGINT) AS d1,
         CAST(count(*) AS BIGINT) AS r,
         CAST(sum(x) AS BIGINT) AS r1
       FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(r) OVER () - coalesce(sum(r) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        sum(r1) OVER () - coalesce(sum(r1) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM pt),
f AS MATERIALIZED (SELECT t, d, d1, n, n1 FROM w WHERE d > 0),
i1 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp(0.0) AS s1,
                    (n - n1) + n1 * exp(0.0) AS s0 FROM f)),
b1 AS (SELECT CASE WHEN i > 0 THEN 0.0 + u / i END AS beta FROM i1),
i2 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b1)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b1)) AS s0 FROM f)),
b2 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b1) + u / i END AS beta FROM i2),
i3 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b2)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b2)) AS s0 FROM f)),
b3 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b2) + u / i END AS beta FROM i3),
res AS (SELECT CAST(row_number() OVER (ORDER BY t) AS DOUBLE) AS k,
               d1 - d * s1 / s0 AS r, d
        FROM (SELECT t, d, d1, n1 * exp((SELECT beta FROM b3)) AS s1,
                     (n - n1) + n1 * exp((SELECT beta FROM b3)) AS s0 FROM f)),
ag AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
              CAST(sum(d) AS BIGINT) AS n_events,
              sum(k) AS sk, sum(k * k) AS skk, sum(r) AS sr,
              sum(r * r) AS srr, sum(k * r) AS skr
       FROM res)
SELECT CASE WHEN (SELECT beta FROM b3) IS NOT NULL
            THEN round((SELECT beta FROM b3), 6) END AS beta,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL
             AND n_times * skk - sk * sk > 0
             AND n_times * srr - sr * sr > 0
            THEN round((n_times * skr - sk * sr)
                       / sqrt((n_times * skk - sk * sk)
                              * (n_times * srr - sr * sr)), 6)
       END AS rho_ph,
       n_times,
       coalesce(n_events, 0) AS n_events
FROM ag
""")
def surv_ph_check_q(spark, sf):
    # Proportional-hazards diagnostic (operators/survival.py
    # cox_ph_check): Schoenfeld-style score residuals at the Newton
    # beta_hat, correlated against event-time rank — does the URGENT
    # hazard ratio drift over follow-up? Same bounded grid as
    # surv_cox_beta; one extra aggregate.
    from clinpy_spark.operators.survival import cox_ph_check

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("x"),
    )
    return cox_ph_check(obs, "duration", "evt", "x", iterations=3)


@q("text_textrank", """
WITH ntoks AS (
  SELECT doc_id,
         string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents),
tok AS (SELECT doc_id, unnest(generate_series(1, len(tk))) AS i, tk FROM ntoks),
tw AS (SELECT doc_id, i, tk[i] AS t FROM tok),
pr0 AS (SELECT a.t AS x, b.t AS y
        FROM tw a JOIN tw b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        WHERE len(a.t) >= 4 AND len(b.t) >= 4 AND a.t <> b.t),
e AS MATERIALIZED (SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v FROM pr0),
b AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY u),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (SELECT u, 1.0 / (SELECT n FROM nn) AS r FROM deg),
r1 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r0.r / deg.deg) AS r
       FROM b JOIN r0 ON r0.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v),
r2 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r1.r / deg.deg) AS r
       FROM b JOIN r1 ON r1.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v),
r3 AS (SELECT b.v AS u, (1 - 0.85) / (SELECT n FROM nn)
              + 0.85 * sum(r2.r / deg.deg) AS r
       FROM b JOIN r2 ON r2.u = b.u JOIN deg ON deg.u = b.u GROUP BY b.v)
SELECT u AS keyword, round(r, 6) AS pr FROM r3
""")
def text_textrank_q(spark, sf):
    # TextRank keyword scores (Mihalcea-Tarau 2004): PageRank over the
    # word adjacency graph (consecutive >= 4-char tokens), reusing the
    # oracled pagerank operator — the unsupervised keyword extractor a
    # curation pipeline runs to tag corpora. The word graph is bounded
    # by the VOCABULARY; the 100 TB document axis only feeds edge
    # dedup (one groupBy).
    from clinpy_spark.functions.text import norm_tokens
    from clinpy_spark.operators.graph import pagerank

    docs = _t(spark, sf, "documents")
    # Consecutive-token pairs come from ONE zip over each doc's token
    # array instead of a positional self-join of two exploded legs:
    # the join shuffled the full token table twice and each exploded
    # leg re-paid the tokenize HOF under its Generate (guide §2.4 /
    # §3.3 "join on the un-exploded key, explode after" — here the
    # join disappears outright). Pair multiset proven identical
    # (exceptAll both ways = 0 at sf0.1); the barrier before the
    # explode is the standing Generate-over-HOF fix. Measured
    # 1.82s -> 0.77s for the full query's noop at sf0.1.
    toks = docs.select(norm_tokens(F.col("text")).alias("__tk")) \
        .filter(F.size("__tk") >= 2)
    pairs = toks.select(F.expr(
        "transform(sequence(1, size(__tk) - 1),"
        " i -> struct(__tk[i-1] AS x, __tk[i] AS y))").alias("__pa")
    ).localCheckpoint(eager=False)
    edges = (
        pairs.select(F.explode("__pa").alias("__p"))
        .select("__p.x", "__p.y")
        .filter((F.length("x") >= 4) & (F.length("y") >= 4)
                & (F.col("x") != F.col("y")))
    )
    return pagerank(edges, "x", "y", iterations=3).select(
        F.col("node").alias("keyword"), "pr")



@q("surv_life_table", """
WITH obs AS (
  SELECT o_orderpriority AS g,
         LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt
  FROM (SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
pi AS (SELECT g, CAST(floor(duration / 90.0) AS BIGINT) AS i,
              CAST(sum(evt) AS BIGINT) AS d,
              CAST(sum(1 - evt) AS BIGINT) AS c
       FROM obs GROUP BY g, i),
w AS (SELECT *,
        CAST(sum(d + c) OVER (PARTITION BY g)
             - coalesce(sum(d + c) OVER (PARTITION BY g ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS n_enter
      FROM pi),
x AS (SELECT *, n_enter - c / 2.0 AS eff_n,
             CASE WHEN n_enter - c / 2.0 > 0
                  THEN d / (n_enter - c / 2.0) ELSE 0.0 END AS q
      FROM w),
y AS (SELECT *,
        sum(CASE WHEN q < 1 THEN ln(1 - q) ELSE 0 END)
          OVER (PARTITION BY g ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum,
        max(CASE WHEN q >= 1 THEN 1 ELSE 0 END)
          OVER (PARTITION BY g ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zero
      FROM x)
SELECT g AS o_orderpriority, i * 90.0 AS interval_start, n_enter,
       d AS n_events, c AS n_censored,
       round(eff_n, 6) AS eff_n, round(q, 6) AS q,
       CASE WHEN zero = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS survival
FROM y
""")
def surv_life_table_q(spark, sf):
    # Actuarial life table over 90-day intervals (operators/
    # survival.py life_table): the grouped-interval estimator clinical
    # registries publish — withdrawals count half an interval at risk.
    # One groupBy to the (group, interval) grid; every window after is
    # bounded.
    from clinpy_spark.operators.survival import life_table

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.col("o_orderpriority"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
    )
    return life_table(obs, "duration", "evt", "o_orderpriority", width=90.0)


@q("e_seasonal_decompose", """
WITH d AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x FROM events GROUP BY 1),
s AS (SELECT CAST(datediff('day', DATE '1970-01-01', day) AS DOUBLE) AS day_num,
             CAST(x AS DOUBLE) AS n_events
      FROM d),
t AS (SELECT day_num, n_events,
        CASE WHEN count(*) OVER w7 = 7 THEN avg(n_events) OVER w7 END AS trend,
        (row_number() OVER (ORDER BY day_num) - 1) % 7 AS phase
      FROM s
      WINDOW w7 AS (ORDER BY day_num ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
ph0 AS (SELECT phase, avg(n_events - trend) AS ph_raw
        FROM t WHERE trend IS NOT NULL GROUP BY phase),
ctr AS (SELECT avg(ph_raw) AS c FROM ph0),
ph AS (SELECT phase, ph_raw - c AS seasonal FROM ph0 CROSS JOIN ctr)
SELECT day_num, n_events, round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(n_events - trend - seasonal, 6) AS remainder
FROM t LEFT JOIN ph USING (phase)
""")
def e_seasonal_decompose_q(spark, sf):
    # Classical additive decomposition of the daily event volume
    # (operators/windows.py seasonal_decompose): centered MA(7) trend,
    # phase means over an engine-neutral period index (NOT calendar
    # day-of-week, whose numbering differs across engines), centered
    # seasonal, residual. Separates "weekends are slow" from "volume
    # is drifting" before anomaly rules fire.
    from clinpy_spark.operators.windows import seasonal_decompose

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x"))
    ser = daily.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .alias("day_num"),
        F.col("x").alias("n_events"),
    )
    return seasonal_decompose(ser, "day_num", "n_events",
                              season=7, trend_window=7)


@q("graph_modularity", f"""
WITH e0 AS ({_COPURCHASE_SQL}),
e AS MATERIALIZED (SELECT u, v FROM e0),
b AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT u, u AS label FROM b),
v1 AS (SELECT u, label, count(*) AS n FROM (
         SELECT b.u, l.label FROM b JOIN l0 l ON l.u = b.v
         UNION ALL SELECT u, label FROM l0) GROUP BY u, label),
l1 AS MATERIALIZED (SELECT u, label FROM (
         SELECT u, label,
                row_number() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rn
         FROM v1) WHERE rn = 1),
v2 AS (SELECT u, label, count(*) AS n FROM (
         SELECT b.u, l.label FROM b JOIN l1 l ON l.u = b.v
         UNION ALL SELECT u, label FROM l1) GROUP BY u, label),
l2 AS MATERIALIZED (SELECT u, label FROM (
         SELECT u, label,
                row_number() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rn
         FROM v2) WHERE rn = 1),
v3 AS (SELECT u, label, count(*) AS n FROM (
         SELECT b.u, l.label FROM b JOIN l2 l ON l.u = b.v
         UNION ALL SELECT u, label FROM l2) GROUP BY u, label),
l3 AS MATERIALIZED (SELECT u, label FROM (
         SELECT u, label,
                row_number() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rn
         FROM v3) WHERE rn = 1),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
degc AS (SELECT l.label AS c, CAST(count(*) AS BIGINT) AS deg_c
         FROM b JOIN l3 l ON l.u = b.u GROUP BY l.label),
intra AS (SELECT lu.label AS c, CAST(count(*) AS BIGINT) AS e_c
          FROM e JOIN l3 lu ON lu.u = e.u JOIN l3 lv ON lv.u = e.v
          WHERE lu.label = lv.label GROUP BY lu.label),
pc AS (SELECT d.c, d.deg_c, coalesce(i.e_c, 0) AS e_c
       FROM degc d LEFT JOIN intra i ON d.c = i.c)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       (SELECT m FROM m) AS n_edges,
       CAST(sum(e_c) AS BIGINT) AS intra_edges,
       CASE WHEN (SELECT m FROM m) > 0
            THEN round(sum(e_c / CAST((SELECT m FROM m) AS DOUBLE)
                 - (deg_c / (2.0 * (SELECT m FROM m)))
                   * (deg_c / (2.0 * (SELECT m FROM m)))), 6)
       END AS modularity
FROM pc
""")
def graph_modularity_q(spark, sf):
    # Newman modularity of the label-propagation communities
    # (operators/graph.py modularity): does the LPA clustering beat a
    # degree-preserving random graph? Two node-keyed label joins, one
    # community aggregate, one bounded fold — the quality score for
    # graph_label_prop's output.
    from clinpy_spark.operators.graph import label_propagation, modularity

    edges = _copurchase(spark, sf)
    labels = label_propagation(edges, "u", "v", rounds=3)
    return modularity(edges, "u", "v", labels)



@q("dx_anova", """
WITH t AS (SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS x FROM orders),
pg AS (SELECT g, CAST(count(*) AS BIGINT) AS nj, sum(x) AS sx,
              sum(x * x) AS sxx
       FROM t GROUP BY g),
a AS (SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             sum(sx) AS s, sum(sxx - sx * sx / nj) AS ssw,
             sum(sx * sx / nj) AS sb
      FROM pg),
v AS (SELECT *, sb - s * s / CAST(n AS DOUBLE) AS ssb FROM a)
SELECT CASE WHEN k > 1 AND ssw > 0
            THEN round((ssb / (k - 1)) / (ssw / (CAST(n AS DOUBLE) - k)), 6)
       END AS f_stat,
       (k - 1) AS df1, (n - k) AS df2, n, k
FROM v
""")
def dx_anova_q(spark, sf):
    # One-way ANOVA F across the 5 priority arms (operators/assoc.py
    # anova_oneway): the parametric mean contrast whose variance
    # precondition dx_levene checks. One grouped moment pass + a k-row
    # fold; only the scale-free F is emitted (raw SS at money scale
    # sit where a float ulp exceeds the rounding grain).
    from clinpy_spark.operators.assoc import anova_oneway

    return anova_oneway(
        _t(spark, sf, "orders"), "o_totalprice", "o_orderpriority")


@q("g_subtract_intervals", """
WITH a AS (
  SELECT o_orderkey, o_custkey % 2000 AS grp,
         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS s,
         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         + ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % 30 AS e
  FROM orders),
b0 AS (
  SELECT l_partkey % 2000 AS grp,
         datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS s,
         datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
         + ('0x' || substr(md5(CAST(l_orderkey * 8 + l_linenumber
                                    AS VARCHAR)), 1, 8))::BIGINT % 20 AS e
  FROM lineitem WHERE l_linenumber = 1),
f AS (SELECT grp, s, e,
             CASE WHEN s > coalesce(max(e) OVER (PARTITION BY grp
                    ORDER BY s ASC, e ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), s)
                  THEN 1 ELSE 0 END AS nb
      FROM b0),
bb AS (SELECT *, sum(nb) OVER (PARTITION BY grp ORDER BY s ASC, e ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blk
       FROM f),
blocks AS (SELECT grp, min(s) AS bs, max(e) AS be FROM bb GROUP BY grp, blk),
j AS (SELECT a.o_orderkey, a.grp, a.s, a.e, bl.bs, bl.be
      FROM a JOIN blocks bl
        ON a.grp = bl.grp AND bl.bs <= a.e AND bl.be >= a.s),
cut AS (SELECT *,
          greatest(s, coalesce(max(be) OVER (PARTITION BY o_orderkey
            ORDER BY bs ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            + 1, s)) AS lo,
          least(e, bs - 1) AS hi,
          max(be) OVER (PARTITION BY o_orderkey) AS last_be,
          row_number() OVER (PARTITION BY o_orderkey ORDER BY bs DESC) AS rn
        FROM j),
pieces AS (
  SELECT o_orderkey, grp, lo AS ps, hi AS pe FROM cut WHERE hi >= lo
  UNION ALL
  SELECT o_orderkey, grp, greatest(s, last_be + 1) AS ps, e AS pe
  FROM cut WHERE rn = 1 AND last_be + 1 <= e
  UNION ALL
  SELECT o_orderkey, grp, s AS ps, e AS pe FROM a
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM j))
SELECT o_orderkey, grp, ps AS start_day, pe AS end_day FROM pieces
""")
def g_subtract_intervals_q(spark, sf):
    # bedtools-subtract (functions/intervals.py subtract_intervals):
    # order coverage minus the union of shipment windows, per customer
    # bucket — the interval-complement primitive (exon minus repeat
    # mask). B merges to disjoint blocks first; each A row emits its
    # surviving gaps via per-A windows; untouched A passes through an
    # anti-join. Group-keyed join = chrom-style blocking by contract.
    from clinpy_spark.functions.intervals import subtract_intervals

    o = _t(spark, sf, "orders")
    ha = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    day_a = F.datediff(
        F.col("o_orderdate"), F.lit("1992-01-01").cast("date")).cast("long")
    a = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 2000).alias("grp"),
        day_a.alias("start_day"),
        (day_a + ha % 30).alias("end_day"),
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_linenumber") == 1)
    hb = F.conv(
        F.substring(
            F.md5((F.col("l_orderkey") * 8 + F.col("l_linenumber"))
                  .cast("string")), 1, 8), 16, 10
    ).cast("long")
    day_b = F.datediff(
        F.col("l_shipdate"), F.lit("1992-01-01").cast("date")).cast("long")
    b = li.select(
        (F.col("l_partkey") % 2000).alias("grp"),
        day_b.alias("start_day"),
        (day_b + hb % 20).alias("end_day"),
    )
    return subtract_intervals(
        a, b, "grp", "start_day", "end_day", "o_orderkey")



@q("gx_mendel", f"""
WITH g AS ({_GRID_GENO_SQL}),
r AS (SELECT variant,
             CAST((c_custkey - 1) // 3 AS BIGINT) AS trio,
             (c_custkey - 1) % 3 AS role, gt
      FROM g),
tt AS (SELECT variant, trio,
              max(CASE WHEN role = 0 THEN gt END) AS gtf,
              max(CASE WHEN role = 1 THEN gt END) AS gtm,
              max(CASE WHEN role = 2 THEN gt END) AS gtc
       FROM r GROUP BY variant, trio),
cl AS (SELECT variant,
              gtf IS NOT NULL AND gtm IS NOT NULL AND gtc IS NOT NULL AS complete,
              CASE WHEN gtf IS NOT NULL AND gtm IS NOT NULL AND gtc IS NOT NULL
                    AND (gtc < CAST(gtf / 2 AS INT) + CAST(gtm / 2 AS INT)
                         OR gtc > LEAST(gtf, 1) + LEAST(gtm, 1))
                   THEN 1 ELSE 0 END AS err
       FROM tt)
SELECT variant, CAST(count(*) AS BIGINT) AS n_trios,
       CAST(sum(err) AS BIGINT) AS n_errors,
       CAST(sum(CASE WHEN complete THEN 0 ELSE 1 END) AS BIGINT) AS n_uninformative,
       CASE WHEN count(*) > sum(CASE WHEN complete THEN 0 ELSE 1 END)
            THEN round(sum(err) / CAST(count(*)
                 - sum(CASE WHEN complete THEN 0 ELSE 1 END) AS DOUBLE), 6)
       END AS error_rate
FROM cl GROUP BY variant
""")
def gx_mendel_q(spark, sf):
    # Mendelian-error scan (operators/assoc.py mendel_errors) over
    # synthetic trios carved from the genotype grid (consecutive
    # custkeys as father/mother/child): a child dosage outside the
    # transmittable range [floor(f/2)+floor(m/2), min(f,1)+min(m,1)]
    # is an error — the pedigree QC before any transmission test. One
    # classification expression + one per-variant groupBy.
    from clinpy_spark.operators.assoc import mendel_errors

    g = _grid_geno(spark, sf).select(
        "variant",
        ((F.col("c_custkey") - 1) / 3).cast("long").alias("trio"),
        ((F.col("c_custkey") - 1) % 3).alias("role"),
        "gt",
    )
    tt = g.groupBy("variant", "trio").agg(
        F.max(F.when(F.col("role") == 0, F.col("gt"))).alias("gtf"),
        F.max(F.when(F.col("role") == 1, F.col("gt"))).alias("gtm"),
        F.max(F.when(F.col("role") == 2, F.col("gt"))).alias("gtc"),
    )
    return mendel_errors(tt, "variant", "gtf", "gtm", "gtc")


@q("gx_prs", f"""
WITH g AS ({_GRID_GENO_SQL}),
w AS (SELECT DISTINCT variant,
             ((('0x' || substr(md5('w' || CAST(variant AS VARCHAR)), 1, 8))::BIGINT
               % 2001) - 1000) / 1000.0 AS wt
      FROM g)
SELECT c_custkey, round(sum(gt * wt), 6) AS prs,
       CAST(count(*) AS BIGINT) AS n_variants_scored
FROM g JOIN w USING (variant)
GROUP BY c_custkey
""")
def gx_prs_q(spark, sf):
    # Polygenic risk score (operators/assoc.py polygenic_score): a
    # hash-derived 3-decimal GWAS weight per variant, broadcast onto
    # the genotype grid, one per-sample aggregate — the standard
    # clinical PRS join (weight tables are small; the genotype corpus
    # is the 100 TB axis and streams through once).
    from clinpy_spark.operators.assoc import polygenic_score

    g = _grid_geno(spark, sf)
    wt = (
        (F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w"), F.col("variant").cast("string"))),
                1, 8),
            16, 10).cast("long") % 2001 - 1000) / 1000.0
    )
    # weights from the grid's own variant axis (range 200) directly —
    # g.select("variant").distinct() re-executed the whole x200
    # customer expansion just to recover the range values. Output
    # identical even on an empty customer table: the weights only
    # matter through the inner join against g.
    weights = spark.range(200).select(
        F.col("id").alias("variant"), wt.alias("wt"))
    return polygenic_score(
        g, weights, "c_custkey", "variant", "gt", "wt")



# ---------------------------------------------------------------------------
# Round-11 session-3: inference breadth (rank tests, exact tests, GLM),
# graph micro-structure, epidemiology standardization, series memory.
# ---------------------------------------------------------------------------


@q("dx_kruskal", """
WITH t AS (SELECT o_totalprice AS v, o_orderpriority AS g FROM orders),
pvg AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY v, g),
pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM pvg GROUP BY v),
r AS (SELECT v,
        CAST(coalesce(sum(cv) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
          PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
        + (CAST(cv AS DOUBLE) + 1) / 2 AS midrank
      FROM pv),
pg AS (SELECT g, sum(CAST(c AS DOUBLE) * midrank) AS rg,
              CAST(sum(c) AS BIGINT) AS ng
       FROM pvg JOIN r USING (v) GROUP BY g),
ties AS (SELECT sum(CAST(cv AS DOUBLE) * cv * cv - cv) AS tie,
                CAST(sum(CASE WHEN cv > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_ties
         FROM pv),
a AS (SELECT sum(rg * rg / ng) AS s, CAST(sum(ng) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_groups
      FROM pg)
SELECT round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * s - 3 * (n + 1), 6) AS h,
       CASE WHEN 1 - tie / (CAST(n AS DOUBLE) * n * n - n) > 0
            THEN round((12.0 / (CAST(n AS DOUBLE) * (n + 1)) * s - 3 * (n + 1))
                       / (1 - tie / (CAST(n AS DOUBLE) * n * n - n)), 6)
       END AS h_corrected,
       n_groups - 1 AS df, n, n_groups, n_ties
FROM a CROSS JOIN ties
""")
def dx_kruskal_q(spark, sf):
    # Kruskal-Wallis H across the 5 order priorities (operators/
    # assoc.py kruskal_wallis): the k-group rank ANOVA —
    # dx_mannwhitney's 2-arm comparison generalized. Midranks from the
    # per-distinct-value aggregate (half-integers, EXACT sums), one
    # k-row grouped aggregate on top.
    from clinpy_spark.operators.assoc import kruskal_wallis

    o = _t(spark, sf, "orders")
    return kruskal_wallis(o, "o_totalprice", "o_orderpriority")


@q("dx_spearman", """
WITH base AS (SELECT c_acctbal AS x, CAST(coalesce(o.n, 0) AS BIGINT) AS y
  FROM customer c LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders
                             GROUP BY o_custkey) o
    ON c.c_custkey = o.o_custkey),
px AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY x),
rx AS (SELECT v, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
          PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
          + (CAST(c AS DOUBLE) + 1) / 2 AS r
       FROM px),
py AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY y),
ry AS (SELECT v, CAST(coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
          PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
          + (CAST(c AS DOUBLE) + 1) / 2 AS r
       FROM py),
tx AS (SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ties_x FROM px),
ty AS (SELECT CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ties_y FROM py),
j AS (SELECT rx.r AS rxv, ry.r AS ryv
      FROM base JOIN rx ON base.x = rx.v JOIN ry ON base.y = ry.v),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(rxv) AS sx, sum(ryv) AS sy,
             sum(rxv * rxv) AS sxx, sum(ryv * ryv) AS syy,
             sum(rxv * ryv) AS sxy
      FROM j)
SELECT CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round((n * sxy - sx * sy)
                       / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS rho,
       n, n_ties_x, n_ties_y
FROM m CROSS JOIN tx CROSS JOIN ty
""")
def dx_spearman_q(spark, sf):
    # Spearman rank correlation (operators/assoc.py spearman_rho)
    # between account balance and order count per customer: the
    # outlier-proof monotone-association readout. Midranks are
    # half-integers, so every rank moment is exact; only the final
    # normalized ratio rounds.
    from clinpy_spark.operators.assoc import spearman_rho

    cust = _t(spark, sf, "customer").select("c_custkey", "c_acctbal")
    per_c = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = cust.join(
        per_c, cust.c_custkey == per_c.o_custkey, "left"
    ).select(
        "c_acctbal",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )
    return spearman_rho(j, "c_acctbal", "n_orders")


@q("dx_mcnemar", """
WITH pu AS (SELECT user_id,
    max(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-16'
        THEN 1 ELSE 0 END) AS bef,
    max(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-16'
        THEN 1 ELSE 0 END) AS aft
  FROM events GROUP BY user_id),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
   CAST(sum(CASE WHEN bef = 1 AND aft = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
   CAST(sum(CASE WHEN bef = 0 AND aft = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM pu)
SELECT n_pairs, b, c,
  CASE WHEN b + c > 0
       THEN round((abs(CAST(b AS DOUBLE) - c) - 1)
                  * (abs(CAST(b AS DOUBLE) - c) - 1) / (b + c), 6)
  END AS chi2_cc,
  CASE WHEN c > 0 THEN round(CAST(b AS DOUBLE) / c, 6) END AS or_paired
FROM a
""")
def dx_mcnemar_q(spark, sf):
    # McNemar's paired test (operators/assoc.py mcnemar_test): did
    # each user's "made a purchase" flag flip asymmetrically between
    # the first and second half of January — the paired before/after
    # readout an unpaired chi-square gets wrong (it ignores that both
    # halves observe the SAME users).
    from clinpy_spark.operators.assoc import mcnemar_test

    ev = _t(spark, sf, "events")
    pur = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(pur & (F.col("ts") < "2024-01-16"), 1).otherwise(0))
        .alias("bef"),
        F.max(F.when(pur & (F.col("ts") >= "2024-01-16"), 1).otherwise(0))
        .alias("aft"),
    )
    return mcnemar_test(per_user, "bef", "aft")


@q("gx_tdt", f"""
WITH g AS ({_GRID_GENO_SQL}),
r AS (SELECT variant,
             CAST((c_custkey - 1) // 3 AS BIGINT) AS trio,
             (c_custkey - 1) % 3 AS role, gt
      FROM g),
tt AS (SELECT variant, trio,
              max(CASE WHEN role = 0 THEN gt END) AS gtf,
              max(CASE WHEN role = 1 THEN gt END) AS gtm,
              max(CASE WHEN role = 2 THEN gt END) AS gtc
       FROM r GROUP BY variant, trio),
cl AS (SELECT variant,
              CAST(gtf / 2 AS INT) + CAST(gtm / 2 AS INT) AS det,
              (CASE WHEN gtf = 1 THEN 1 ELSE 0 END
               + CASE WHEN gtm = 1 THEN 1 ELSE 0 END) AS hets,
              gtc
       FROM tt
       WHERE gtf IS NOT NULL AND gtm IS NOT NULL AND gtc IS NOT NULL
         AND gtc >= CAST(gtf / 2 AS INT) + CAST(gtm / 2 AS INT)
         AND gtc <= LEAST(gtf, 1) + LEAST(gtm, 1)),
s AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_informative_trios,
             CAST(sum(gtc - det) AS BIGINT) AS b_transmitted,
             CAST(sum(hets - (gtc - det)) AS BIGINT) AS c_untransmitted
      FROM cl WHERE hets > 0 GROUP BY variant)
SELECT variant, n_informative_trios, b_transmitted, c_untransmitted,
  CASE WHEN b_transmitted + c_untransmitted > 0
       THEN round((CAST(b_transmitted AS DOUBLE) - c_untransmitted)
                  * (CAST(b_transmitted AS DOUBLE) - c_untransmitted)
                  / (b_transmitted + c_untransmitted), 6)
  END AS tdt_chi2
FROM s
""")
def gx_tdt_q(spark, sf):
    # Transmission disequilibrium test (operators/assoc.py tdt_test)
    # over the same synthetic trios gx_mendel audits: the family-based
    # association test immune to population stratification. Homozygous
    # parents transmit deterministically, so b = child - floor(f/2) -
    # floor(m/2) counts het-parent transmissions exactly; McNemar-form
    # chi2 over the per-variant sums.
    from clinpy_spark.operators.assoc import tdt_test

    g = _grid_geno(spark, sf).select(
        "variant",
        ((F.col("c_custkey") - 1) / 3).cast("long").alias("trio"),
        ((F.col("c_custkey") - 1) % 3).alias("role"),
        "gt",
    )
    tt = g.groupBy("variant", "trio").agg(
        F.max(F.when(F.col("role") == 0, F.col("gt"))).alias("gtf"),
        F.max(F.when(F.col("role") == 1, F.col("gt"))).alias("gtm"),
        F.max(F.when(F.col("role") == 2, F.col("gt"))).alias("gtc"),
    )
    return tdt_test(tt, "variant", "gtf", "gtm", "gtc")


def _logit_irls_sql(iterations: int) -> str:
    """Chained-CTE replay of logistic_newton's unrolled IRLS recurrence
    (operators/assoc.py): one CTE pair (score/information aggregate +
    Newton update) per step, generated rather than hand-unrolled so the
    oracle always matches the operator's default step count."""
    step_agg = """ (SELECT b0, b1, sum(p - n * pp) AS u0, sum(x * (p - n * pp)) AS u1,
              sum(n * pp * (1 - pp)) AS i00,
              sum(x * n * pp * (1 - pp)) AS i01,
              sum(x * x * n * pp * (1 - pp)) AS i11
       FROM (SELECT x, n, p, b0, b1,
                    1 / (1 + exp(-(b0 + b1 * x))) AS pp
             FROM grid CROSS JOIN {prev})
       GROUP BY b0, b1)"""
    update = """ (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i{i})"""
    ctes = ["""grid AS (SELECT l_quantity AS x, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                       AS BIGINT) AS p
              FROM lineitem GROUP BY l_quantity)""",
            "bc0 AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"i{i} AS" + step_agg.format(prev=prev))
        ctes.append(f"bc{i} AS" + update.format(i=i))
        prev = f"bc{i}"
    ctes.append(f"""fin AS (SELECT b0, b1,
               sum(n * pp * (1 - pp)) AS i00,
               sum(x * n * pp * (1 - pp)) AS i01,
               sum(x * x * n * pp * (1 - pp)) AS i11,
               CAST(sum(n) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
               sum(p - n * pp) AS u0, sum(x * (p - n * pp)) AS u1
        FROM (SELECT x, n, p, b0, b1,
                     1 / (1 + exp(-(b0 + b1 * x))) AS pp
              FROM grid CROSS JOIN {prev})
        GROUP BY b0, b1)""")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round(b0, 6) END AS beta0,
       CASE WHEN ok THEN round(b1, 6) END AS beta1,
       CASE WHEN ok THEN round(sqrt(i00 / det), 6) END AS se1,
       CASE WHEN ok THEN round(b1 * b1 / (i00 / det), 6) END AS wald_chi2,
       coalesce(n, 0) AS n, coalesce(n_pos, 0) AS n_pos,
       CASE WHEN ok THEN round(sqrt(u0 * u0 + u1 * u1), 6) END AS score_norm
FROM (SELECT *, i00 * i11 - i01 * i01 AS det,
             b0 IS NOT NULL AND b1 IS NOT NULL
             AND i00 * i11 - i01 * i01 > 0 AS ok
      FROM fin)
"""


@q("dx_logistic", _logit_irls_sql(8))
def dx_logistic_q(spark, sf):
    # Logistic regression (operators/assoc.py logistic_newton): does
    # return probability rise with line-item quantity — log-odds per
    # unit with Wald inference, by 8 unrolled IRLS steps over the
    # 50-row per-quantity grid (the corpus is scanned ONCE into the
    # grid; every iteration is grid-sized; score_norm reports the
    # final Newton score so under-convergence is visible — r11
    # advice). The oracle replays the same generated CTE chain.
    from clinpy_spark.operators.assoc import logistic_newton

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").alias("x"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return logistic_newton(li, "x", "y")


def _logit_multi_irls_sql(iterations: int) -> str:
    """Chained-CTE replay of logistic_newton_multi's IRLS recurrence
    for d = 2 covariates: per step one moment aggregate over the joint
    grid and one Cramer's-rule 3x3 Newton update — the SQL-expressible
    face of the moments / local-solve factoring (the Spark side solves
    the same normal equations with functions/cramer.py solve3, in this
    text's operand order)."""
    mom = """ (SELECT sum(r) AS u0, sum(x1 * r) AS u1, sum(x2 * r) AS u2,
              sum(w) AS i00, sum(x1 * w) AS i01, sum(x2 * w) AS i02,
              sum(x1 * x1 * w) AS i11, sum(x1 * x2 * w) AS i12,
              sum(x2 * x2 * w) AS i22,
              CAST(sum(n) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS np
       FROM (SELECT x1, x2, n, p,
                    n * pp * (1 - pp) AS w, p - n * pp AS r
             FROM (SELECT x1, x2, n, p,
                          1 / (1 + exp(-((SELECT b0 FROM {prev})
                                         + (SELECT b1 FROM {prev}) * x1
                                         + (SELECT b2 FROM {prev}) * x2)))
                            AS pp
                   FROM grid)))"""
    upd = """ (SELECT
        CASE WHEN det > 0 THEN (SELECT b0 FROM {prev})
             + (u0 * (i11 * i22 - i12 * i12)
                - i01 * (u1 * i22 - i12 * u2)
                + i02 * (u1 * i12 - i11 * u2)) / det END AS b0,
        CASE WHEN det > 0 THEN (SELECT b1 FROM {prev})
             + (i00 * (u1 * i22 - i12 * u2)
                - u0 * (i01 * i22 - i12 * i02)
                + i02 * (i01 * u2 - u1 * i02)) / det END AS b1,
        CASE WHEN det > 0 THEN (SELECT b2 FROM {prev})
             + (i00 * (i11 * u2 - u1 * i12)
                - i01 * (i01 * u2 - u1 * i02)
                + u0 * (i01 * i12 - i11 * i02)) / det END AS b2
        FROM (SELECT *, i00 * (i11 * i22 - i12 * i12)
                        - i01 * (i01 * i22 - i12 * i02)
                        + i02 * (i01 * i12 - i11 * i02) AS det
              FROM m{i}))"""
    ctes = ["""grid AS MATERIALIZED (
  SELECT l_quantity AS x1, CAST(l_linenumber AS DOUBLE) AS x2,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
           AS BIGINT) AS p
  FROM lineitem GROUP BY l_quantity, l_linenumber)""",
            "bc0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"]
    prev = "bc0"
    # every step CTE MATERIALIZED: the scalar-subquery references would
    # otherwise be INLINED by DuckDB, re-evaluating the whole chain per
    # reference (exponential blowup in the step count)
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + mom.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED" + upd.format(prev=prev, i=i))
        prev = f"bc{i}"
    ctes.append("fin AS MATERIALIZED" + mom.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT b0, b1, b2 FROM {prev})")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round((SELECT b0 FROM bf), 5) + 0.0 END AS beta0,
       CASE WHEN ok THEN round((SELECT b1 FROM bf), 5) + 0.0 END AS beta1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf), 5) + 0.0 END AS beta2,
       CASE WHEN ok THEN round(sqrt((i00 * i22 - i02 * i02) / det), 5) + 0.0
       END AS se1,
       CASE WHEN ok THEN round(sqrt((i00 * i11 - i01 * i01) / det), 5) + 0.0
       END AS se2,
       CASE WHEN ok THEN round((SELECT b1 FROM bf) * (SELECT b1 FROM bf)
                               / ((i00 * i22 - i02 * i02) / det), 5) + 0.0
       END AS wald_chi2_1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf) * (SELECT b2 FROM bf)
                               / ((i00 * i11 - i01 * i01) / det), 5) + 0.0
       END AS wald_chi2_2,
       coalesce(n, 0) AS n, coalesce(np, 0) AS n_pos,
       CASE WHEN ok
            THEN round(sqrt(u0 * u0 + u1 * u1 + u2 * u2), 5) + 0.0
       END AS score_norm
FROM (SELECT *, i00 * (i11 * i22 - i12 * i12)
                - i01 * (i01 * i22 - i12 * i02)
                + i02 * (i01 * i12 - i11 * i02) AS det,
             (SELECT b0 FROM bf) IS NOT NULL
             AND i00 * (i11 * i22 - i12 * i12)
                 - i01 * (i01 * i22 - i12 * i02)
                 + i02 * (i01 * i12 - i11 * i02) > 0 AS ok
      FROM fin)
"""


@q("dx_logistic_multi", _logit_multi_irls_sql(4))
def dx_logistic_multi_q(spark, sf):
    # Multi-covariate logistic regression (operators/assoc.py
    # logistic_newton_multi, r11 verdict #4): return probability vs
    # quantity ADJUSTED for line number — log-odds per unit of each,
    # jointly. The cohort collapses once to the ~350-cell
    # (quantity x linenumber) grid, collected once; each of the 4 IRLS
    # steps is a driver pass over it and a 3x3 Cramer solve. The
    # oracle replays the identical recurrence with Cramer's-rule CTE
    # updates.
    from clinpy_spark.operators.assoc import logistic_newton_multi

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").alias("x1"),
        F.col("l_linenumber").cast("double").alias("x2"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )
    return logistic_newton_multi(li, ["x1", "x2"], "y", iterations=4)


@q("dx_fisher_exact", f"""
WITH g AS ({_GRID_GENO_SQL}),
dd AS (SELECT CASE WHEN gt > 0 THEN 1 ELSE 0 END AS e,
              CASE WHEN is_case THEN 1 ELSE 0 END AS y
       FROM g WHERE variant = 40 AND c_custkey % 37 = 0),
cnt AS (SELECT
   CAST(sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
   CAST(sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
   CAST(sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
   CAST(sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0
  FROM dd),
supp AS (SELECT a, b, c, d0, a + b AS r1, c + d0 AS r2, a + c AS c1,
                unnest(generate_series(GREATEST(0, a + c - (c + d0)),
                                       LEAST(a + b, a + c))) AS k
         FROM cnt),
lw AS (SELECT *,
         sum(CASE WHEN k = GREATEST(0, c1 - r2) THEN 0.0
             ELSE ln((r1 - CAST(k AS DOUBLE) + 1) * (c1 - CAST(k AS DOUBLE) + 1))
                  - ln(CAST(k AS DOUBLE) * (r2 - c1 + CAST(k AS DOUBLE)))
             END)
           OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS lnu
       FROM supp),
lw2 AS (SELECT *, exp(lnu - max(lnu) OVER ()) AS u,
               max(CASE WHEN k = a THEN lnu END) OVER () AS lnu_obs
        FROM lw),
agg AS (SELECT max(a) AS a, max(b) AS b, max(c) AS c, max(d0) AS d,
          sum(u) AS tot,
          sum(CASE WHEN lnu <= lnu_obs + 0.0000001 THEN u ELSE 0 END) AS le_obs,
          sum(CASE WHEN k <= a THEN u ELSE 0 END) AS lft,
          sum(CASE WHEN k >= a THEN u ELSE 0 END) AS rgt
        FROM lw2)
SELECT a, b, c, d, a + b + c + d AS n,
       round(LEAST(le_obs / tot, 1.0), 9) AS p_two_sided,
       round(LEAST(lft / tot, 1.0), 9) AS p_left,
       round(LEAST(rgt / tot, 1.0), 9) AS p_right
FROM agg
""")
def dx_fisher_exact_q(spark, sf):
    # Fisher's EXACT 2x2 test (operators/assoc.py fisher_exact_2x2)
    # for a rare variant (2% allele frequency) in a small hash-pinned
    # cohort — exactly the regime where the chi-square family's
    # expected-count assumptions collapse. The hypergeometric support
    # is built factorial-free from the neighbour-ratio prefix sum, so
    # the oracle replays the identical window recurrence.
    from clinpy_spark.operators.assoc import fisher_exact_2x2

    g = _grid_geno(spark, sf).filter(
        (F.col("variant") == 40) & (F.col("c_custkey") % 37 == 0))
    d = g.select(
        (F.col("gt") > 0).cast("int").alias("exposed"),
        F.col("is_case").cast("int").alias("case"),
    )
    return fisher_exact_2x2(d, "exposed", "case")


@q("graph_clustering_coeff", f"""
WITH e0 AS ({_COPURCHASE_SQL}),
e AS MATERIALIZED (SELECT u, v FROM e0),
b AS (SELECT u AS w FROM e UNION ALL SELECT v FROM e),
deg AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS deg
                     FROM b GROUP BY w),
tri AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, bb.v AS z
  FROM e a JOIN e bb ON bb.u = a.v JOIN e cc ON cc.u = a.u AND cc.v = bb.v),
tn AS (SELECT n, CAST(count(*) AS BIGINT) AS t
       FROM (SELECT x AS n FROM tri UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
       GROUP BY n),
nd AS (SELECT deg.w, deg.deg, coalesce(tn.t, 0) AS t
       FROM deg LEFT JOIN tn ON tn.n = deg.w),
a AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        CAST(sum(CASE WHEN deg >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_eligible,
        CAST(sum(CASE WHEN t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
        sum(CASE WHEN deg >= 2
            THEN CAST(t AS DOUBLE) * 2 / (CAST(deg AS DOUBLE) * (deg - 1))
            ELSE 0 END) AS cc,
        sum(CASE WHEN deg >= 2 THEN CAST(deg AS DOUBLE) * (deg - 1) / 2
            ELSE 0 END) AS wedges,
        CAST(sum(t) / 3 AS BIGINT) AS tri3
      FROM nd)
SELECT n_nodes, n_eligible, n_closed,
       CASE WHEN n_eligible > 0 THEN round(cc / n_eligible, 6)
            ELSE 0.0 END AS avg_local_cc,
       CASE WHEN wedges > 0 THEN round(3.0 * tri3 / wedges, 6)
            ELSE 0.0 END AS transitivity
FROM a
""")
def graph_clustering_coeff_q(spark, sf):
    # Average local clustering coefficient of the co-purchase graph
    # (operators/graph.py clustering_coefficient): per-node triangle
    # density — the micro-structure readout next to the global census.
    # Spark enumerates each triangle once from its degree-oriented
    # pivot (Chiba-Nishizeki bound); the oracle's naive u<v<w
    # enumeration counts the identical set.
    from clinpy_spark.operators.graph import clustering_coefficient

    return clustering_coefficient(_copurchase(spark, sf), "u", "v")


@q("graph_assortativity", f"""
WITH e0 AS ({_COPURCHASE_SQL}),
e AS MATERIALIZED (SELECT u, v FROM e0),
b AS (SELECT u AS w, v AS n FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS deg
                     FROM b GROUP BY w),
st AS (SELECT du.deg AS ju, dv.deg AS jv
       FROM b JOIN deg du ON du.w = b.w JOIN deg dv ON dv.w = b.n),
m AS (SELECT CAST(count(*) AS BIGINT) AS m, sum(CAST(ju AS DOUBLE)) AS sj,
             sum(CAST(ju AS DOUBLE) * ju) AS sjj,
             sum(CAST(ju AS DOUBLE) * jv) AS sjk
      FROM st),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              CAST(sum(deg) AS BIGINT) AS sdeg
       FROM deg)
SELECT CAST(m / 2 AS BIGINT) AS n_edges, n_nodes,
       round(CAST(sdeg AS DOUBLE) / n_nodes, 6) AS mean_deg,
       CASE WHEN sjj / m - (sj / m) * (sj / m) > 0
            THEN round((sjk / m - (sj / m) * (sj / m))
                       / (sjj / m - (sj / m) * (sj / m)), 6)
       END AS r
FROM m CROSS JOIN nn
""")
def graph_assortativity_q(spark, sf):
    # Degree assortativity (operators/graph.py assortativity, Newman
    # 2002) of the co-purchase graph: do hub parts co-occur with other
    # hubs (r > 0) or with one-off parts (r < 0)? Linear in edges —
    # degree aggregate, two stamp joins, one moment aggregate; the
    # integer moments make the oracle exact.
    from clinpy_spark.operators.graph import assortativity

    return assortativity(_copurchase(spark, sf), "u", "v")


@q("e_acf", """
WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
           FROM events GROUP BY 1),
t AS (SELECT row_number() OVER (ORDER BY day) AS t, x FROM d),
g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s, sum(x * x) AS ss
      FROM t),
l AS (SELECT unnest(generate_series(1, 7)) AS lag),
pl AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
              sum(a.x * b.x) AS pk, sum(a.x) AS ak, sum(b.x) AS bk
       FROM t a CROSS JOIN l JOIN t b ON b.t = a.t + l.lag
       GROUP BY l.lag)
SELECT CAST(lag AS INT) AS lag, n_pairs,
       CASE WHEN ss - n * (s / n) * (s / n) > 0
            THEN round((pk - (s / n) * (ak + bk) + n_pairs * (s / n) * (s / n))
                       / (ss - n * (s / n) * (s / n)), 6)
       END AS r
FROM pl CROSS JOIN g
""")
def e_acf_q(spark, sf):
    # Sample autocorrelation of the daily event volume at lags 1..7
    # (operators/windows.py acf): the weekly-echo/memory readout next
    # to e_seasonal_decompose. The estimator is expanded so every
    # aggregate is an exact integer sum; K lags cost ONE equi-join on
    # the rank offset, over the bounded per-day series.
    from clinpy_spark.operators.windows import acf

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x"))
    return acf(daily, "day", "x", max_lag=7)


@q("epi_smr", """
WITH j AS (SELECT c_nationkey % 5 AS stratum, c_mktsegment,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                    AS urgent
           FROM orders JOIN customer ON o_custkey = c_custkey),
ref AS (SELECT stratum, sum(urgent) / CAST(count(*) AS DOUBLE) AS rate
        FROM j GROUP BY stratum),
study AS (SELECT stratum, CAST(sum(urgent) AS BIGINT) AS ev,
                 CAST(count(*) AS DOUBLE) AS pt
          FROM j WHERE c_mktsegment = 'BUILDING' GROUP BY stratum),
a AS (SELECT CAST(sum(ev) AS BIGINT) AS observed, sum(pt * rate) AS e,
             CAST(count(*) AS BIGINT) AS n_strata
      FROM study JOIN ref USING (stratum))
SELECT coalesce(observed, 0) AS observed, round(coalesce(e, 0), 6) AS expected,
  CASE WHEN e > 0 AND observed > 0 THEN round(observed / e, 6) END AS smr,
  CASE WHEN e > 0 AND observed > 0
       THEN round(observed / e * exp(-1.96 / sqrt(observed)), 6) END AS smr_lo,
  CASE WHEN e > 0 AND observed > 0
       THEN round(observed / e * exp(1.96 / sqrt(observed)), 6) END AS smr_hi,
  n_strata
FROM a
""")
def epi_smr_q(spark, sf):
    # Standardized morbidity ratio by indirect standardization
    # (operators/survival.py smr): does the BUILDING segment file more
    # URGENT orders than the population's nation-band-specific urgency
    # rates predict for its own order mix — the confounder-free
    # sibling of surv_incidence_rate's crude ratio.
    from clinpy_spark.operators.survival import smr

    cust = _t(spark, sf, "customer").select(
        "c_custkey", (F.col("c_nationkey") % 5).alias("stratum"),
        "c_mktsegment")
    orders = _t(spark, sf, "orders").select(
        "o_custkey",
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("urgent"),
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    ref = j.groupBy("stratum").agg(
        (F.sum("urgent") / F.count(F.lit(1))).alias("rate"))
    study = (
        j.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("stratum")
        .agg(
            F.sum("urgent").alias("events"),
            F.count(F.lit(1)).cast("double").alias("pt"),
        )
    )
    return smr(study, ref, "stratum", "events", "pt", "rate")


@q("dx_bh_fdr", """
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
g AS (SELECT user_id,
             us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
      FROM e),
pu AS (SELECT user_id, max(gap) AS maxg, CAST(sum(gap) AS BIGINT) AS sumg,
              CAST(count(*) AS BIGINT) AS ng
       FROM g WHERE gap IS NOT NULL GROUP BY user_id),
tests AS (SELECT user_id,
                 exp(-CAST(maxg AS DOUBLE) / (CAST(sumg AS DOUBLE) / ng)) AS p
          FROM pu WHERE ng >= 2),
r AS (SELECT user_id, p,
             row_number() OVER (ORDER BY p ASC, user_id ASC) AS bh_rank,
             count(*) OVER () AS n
      FROM tests),
s AS (SELECT user_id, p, bh_rank,
             round(LEAST(min(p * CAST(n AS DOUBLE) / bh_rank)
               OVER (ORDER BY p DESC, user_id DESC ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW), 1.0), 9) AS p_adj
      FROM r)
SELECT user_id, round(p, 9) AS p, CAST(bh_rank AS INT) AS bh_rank, p_adj,
       p_adj <= 0.05 AS significant
FROM s
""")
def dx_bh_fdr_q(spark, sf):
    # Benjamini-Hochberg FDR control (operators/quality.py bh_adjust)
    # over per-user gap-anomaly p-values (exponential tail of each
    # user's largest inter-event gap against their own mean gap): the
    # multiple-testing layer that turns 150 simultaneous anomaly tests
    # into a controlled rejection set. Ranks tie-break on user_id so
    # both windows replay deterministically.
    from clinpy_spark.operators.quality import bh_adjust

    # events ts may surface as TIMESTAMP_NTZ; the cast's fixed session-tz
    # offset cancels in the gap differences.
    ev = _t(spark, sf, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    gaps = ev.withColumn(
        "gap", F.col("us") - F.lag("us").over(w)
    ).filter(F.col("gap").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.max("gap").alias("maxg"),
        F.sum("gap").alias("sumg"),
        F.count(F.lit(1)).alias("ng"),
    )
    tests = per_user.filter(F.col("ng") >= 2).select(
        "user_id",
        F.exp(
            -F.col("maxg").cast("double")
            / (F.col("sumg").cast("double") / F.col("ng"))
        ).alias("p"),
    )
    out = bh_adjust(tests, "p", "user_id", alpha=0.05)
    return out.select(
        "user_id", F.round("p", 9).alias("p"), "bh_rank", "p_adj",
        "significant")




@q("dx_friedman", """
WITH obs AS (SELECT c_nationkey AS b, o_orderpriority AS t,
                    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    / count(*) AS v
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY 1, 2),
kt AS (SELECT b, CAST(count(*) AS BIGINT) AS kk FROM obs GROUP BY b),
kmax AS (SELECT max(kk) AS km FROM kt),
comp AS (SELECT obs.b, obs.t, obs.v
         FROM obs JOIN kt USING (b) CROSS JOIN kmax WHERE kt.kk = kmax.km),
pbv AS (SELECT b, v, CAST(count(*) AS BIGINT) AS c FROM comp GROUP BY b, v),
rk AS (SELECT b, v,
         CAST(coalesce(sum(c) OVER (PARTITION BY b ORDER BY v ROWS BETWEEN
           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
         + (CAST(c AS DOUBLE) + 1) / 2 AS midrank
       FROM pbv),
r AS (SELECT comp.t, comp.b, rk.midrank
      FROM comp JOIN rk ON comp.b = rk.b AND comp.v = rk.v),
pt AS (SELECT t, sum(midrank) AS rj FROM r GROUP BY t),
tot AS (SELECT sum(midrank * midrank) AS a,
               CAST(count(DISTINCT b) AS BIGINT) AS n_blocks
        FROM r),
ag AS (SELECT sum(rj * rj) AS s, CAST(count(*) AS BIGINT) AS k FROM pt)
SELECT CASE WHEN a - CAST(n_blocks AS DOUBLE) * k * (k + 1) * (k + 1) / 4 > 0
            THEN round((CAST(k AS DOUBLE) - 1)
                 * (s - CAST(n_blocks AS DOUBLE)
                    * (CAST(n_blocks AS DOUBLE) * k * (k + 1) * (k + 1) / 4))
                 / (a - CAST(n_blocks AS DOUBLE) * k * (k + 1) * (k + 1) / 4),
                 6)
       END AS chi2_f,
       k - 1 AS df, n_blocks, k
FROM ag CROSS JOIN tot
""")
def dx_friedman_q(spark, sf):
    # Friedman test (operators/assoc.py friedman_test): does order
    # value rank consistently across the 5 priorities WITHIN each
    # nation (the nation is the block — its wealth level is removed by
    # ranking inside it)? The per-(nation, priority) observation is a
    # decimal-exact mean so both engines rank identical values.
    from clinpy_spark.operators.assoc import friedman_test

    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf, "orders").join(
        cust, F.col("o_custkey") == F.col("c_custkey"))
    obs = o.groupBy(
        F.col("c_nationkey").alias("b"),
        F.col("o_orderpriority").alias("t"),
    ).agg((dsum(F.col("o_totalprice"), 2) / F.count(F.lit(1))).alias("v"))
    return friedman_test(obs, "b", "t", "v")


@q("dx_cochran_q", """
WITH pu AS (SELECT user_id,
    max(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '2024-01-11'
        THEN 1 ELSE 0 END) AS w1,
    max(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-11'
         AND ts < TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS w2,
    max(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-21'
        THEN 1 ELSE 0 END) AS w3
  FROM events GROUP BY user_id),
a AS (SELECT CAST(sum(w1) AS BIGINT) AS c0, CAST(sum(w2) AS BIGINT) AS c1,
             CAST(sum(w3) AS BIGINT) AS c2,
             CAST(sum(w1 + w2 + w3) AS BIGINT) AS rsum,
             CAST(sum((w1 + w2 + w3) * (w1 + w2 + w3)) AS BIGINT) AS rsq,
             CAST(count(*) AS BIGINT) AS n_subjects,
             CAST(sum(CASE WHEN w1 + w2 + w3 > 0 AND w1 + w2 + w3 < 3
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_informative
      FROM pu)
SELECT CASE WHEN 3.0 * rsum - CAST(rsq AS DOUBLE) > 0
            THEN round(3.0 * (3.0 - 1)
                 * ((CAST(c0 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3.0)
                    * (CAST(c0 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3.0)
                  + (CAST(c1 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3.0)
                    * (CAST(c1 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3.0)
                  + (CAST(c2 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3.0)
                    * (CAST(c2 AS DOUBLE) - CAST(rsum AS DOUBLE) / 3.0))
                 / (3.0 * rsum - CAST(rsq AS DOUBLE)), 6)
       END AS q,
       CAST(2 AS BIGINT) AS df, n_subjects, n_informative
FROM a
""")
def dx_cochran_q_q(spark, sf):
    # Cochran's Q (operators/assoc.py cochran_q): did each user's
    # "purchased this decade of January" flag differ across the three
    # ten-day windows — the k-ary McNemar over the SAME subjects. All
    # moments are integer sums; one corpus aggregate.
    from clinpy_spark.operators.assoc import cochran_q

    ev = _t(spark, sf, "events")
    pur = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(pur & (F.col("ts") < "2024-01-11"), 1).otherwise(0))
        .alias("w1"),
        F.max(F.when(pur & (F.col("ts") >= "2024-01-11")
                     & (F.col("ts") < "2024-01-21"), 1).otherwise(0))
        .alias("w2"),
        F.max(F.when(pur & (F.col("ts") >= "2024-01-21"), 1).otherwise(0))
        .alias("w3"),
    )
    return cochran_q(per_user, ["w1", "w2", "w3"])


@q("dx_poisson", """
WITH base AS (SELECT c_nationkey % 5 AS x, CAST(coalesce(o.n, 0) AS DOUBLE) AS y
  FROM customer c LEFT JOIN (SELECT o_custkey, count(*) AS n FROM orders
                             GROUP BY o_custkey) o
    ON c.c_custkey = o.o_custkey),
grid AS (SELECT CAST(x AS DOUBLE) AS x, CAST(count(*) AS BIGINT) AS n,
                sum(y) AS sy
         FROM base GROUP BY x),
b0 AS (SELECT CASE WHEN sum(sy) > 0 THEN ln(sum(sy) / sum(n)) ELSE 0.0 END AS b0,
              0.0 AS b1
       FROM grid),
i1 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, n, sy, b0, b1, n * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b0)
       GROUP BY b0, b1),
b1c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i1),
i2 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, n, sy, b0, b1, n * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b1c)
       GROUP BY b0, b1),
b2c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i2),
i3 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, n, sy, b0, b1, n * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b2c)
       GROUP BY b0, b1),
b3c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i3),
i4 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, n, sy, b0, b1, n * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b3c)
       GROUP BY b0, b1),
b4c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i4),
fin AS (SELECT b0, b1, sum(w) AS i00, sum(x * w) AS i01,
               sum(x * x * w) AS i11,
               CAST(sum(n) AS BIGINT) AS n, sum(sy) AS y_total
        FROM (SELECT x, n, sy, b0, b1, n * exp(b0 + b1 * x) AS w
              FROM grid CROSS JOIN b4c)
        GROUP BY b0, b1)
SELECT CASE WHEN ok THEN round(b0, 6) END AS beta0,
       CASE WHEN ok THEN round(b1, 6) END AS beta1,
       CASE WHEN ok THEN round(exp(b1), 6) END AS rate_ratio,
       CASE WHEN ok THEN round(sqrt(i00 / det), 6) END AS se1,
       CASE WHEN ok THEN round(b1 * b1 / (i00 / det), 6) END AS wald_chi2,
       coalesce(n, 0) AS n, round(coalesce(y_total, 0), 6) AS y_total
FROM (SELECT *, i00 * i11 - i01 * i01 AS det,
             b0 IS NOT NULL AND b1 IS NOT NULL
             AND i00 * i11 - i01 * i01 > 0 AS ok
      FROM fin)
""")
def dx_poisson_q(spark, sf):
    # Poisson log-link regression (operators/assoc.py poisson_newton):
    # does per-customer order volume trend across nation bands — log
    # rate per band with Wald inference, 4 unrolled IRLS steps over
    # the 5-row per-band grid (corpus scanned once).
    from clinpy_spark.operators.assoc import poisson_newton

    cust = _t(spark, sf, "customer").select(
        "c_custkey", (F.col("c_nationkey") % 5).alias("x"))
    per_c = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    base = cust.join(
        per_c, cust.c_custkey == per_c.o_custkey, "left"
    ).select("x", F.coalesce("n_orders", F.lit(0)).alias("y"))
    return poisson_newton(base, "x", "y", iterations=4)


def _poisson_multi_irls_sql(iterations: int) -> str:
    """Chained-CTE replay of poisson_newton_multi's Newton recurrence
    for d = 2 covariates: per step one moment aggregate over the joint
    grid (w = n mu, r = sy - n mu, mu = exp(b0 + b1 x1 + b2 x2)) and
    one Cramer's-rule 3x3 update, from the saturated-intercept start
    (ln(ybar), 0, 0). Every step CTE MATERIALIZED (scalar-subquery
    references would otherwise re-inline the whole chain)."""
    mom = """ (SELECT sum(r) AS u0, sum(x1 * r) AS u1, sum(x2 * r) AS u2,
              sum(w) AS i00, sum(x1 * w) AS i01, sum(x2 * w) AS i02,
              sum(x1 * x1 * w) AS i11, sum(x1 * x2 * w) AS i12,
              sum(x2 * x2 * w) AS i22,
              CAST(sum(n) AS BIGINT) AS n, CAST(sum(sy) AS DOUBLE) AS sy
       FROM (SELECT x1, x2, n, sy, n * mu AS w, sy - n * mu AS r
             FROM (SELECT x1, x2, n, sy,
                          exp((SELECT b0 FROM {prev})
                              + (SELECT b1 FROM {prev}) * x1
                              + (SELECT b2 FROM {prev}) * x2) AS mu
                   FROM grid)))"""
    upd = """ (SELECT
        CASE WHEN det > 0 THEN (SELECT b0 FROM {prev})
             + (u0 * (i11 * i22 - i12 * i12)
                - i01 * (u1 * i22 - i12 * u2)
                + i02 * (u1 * i12 - i11 * u2)) / det END AS b0,
        CASE WHEN det > 0 THEN (SELECT b1 FROM {prev})
             + (i00 * (u1 * i22 - i12 * u2)
                - u0 * (i01 * i22 - i12 * i02)
                + i02 * (i01 * u2 - u1 * i02)) / det END AS b1,
        CASE WHEN det > 0 THEN (SELECT b2 FROM {prev})
             + (i00 * (i11 * u2 - u1 * i12)
                - i01 * (i01 * u2 - u1 * i02)
                + u0 * (i01 * i12 - i11 * i02)) / det END AS b2
        FROM (SELECT *, i00 * (i11 * i22 - i12 * i12)
                        - i01 * (i01 * i22 - i12 * i02)
                        + i02 * (i01 * i12 - i11 * i02) AS det
              FROM m{i}))"""
    ctes = ["""cnt AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_custkey)""",
            """obs AS (SELECT CAST(c_nationkey % 5 AS DOUBLE) AS x1,
         CAST(c_custkey % 3 AS DOUBLE) AS x2,
         CAST(coalesce(n_orders, 0) AS DOUBLE) AS y
  FROM customer LEFT JOIN cnt ON o_custkey = c_custkey)""",
            """grid AS MATERIALIZED (
  SELECT x1, x2, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy
  FROM obs GROUP BY x1, x2)""",
            """bc0 AS MATERIALIZED (
  SELECT CASE WHEN sum(sy) > 0 THEN ln(sum(sy) / sum(n)) ELSE 0.0 END AS b0,
         0.0 AS b1, 0.0 AS b2
  FROM grid)"""]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + mom.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED" + upd.format(prev=prev, i=i))
        prev = f"bc{i}"
    ctes.append("fin AS MATERIALIZED" + mom.format(prev=prev))
    ctes.append(f"bf AS MATERIALIZED (SELECT b0, b1, b2 FROM {prev})")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round((SELECT b0 FROM bf), 5) + 0.0 END AS beta0,
       CASE WHEN ok THEN round((SELECT b1 FROM bf), 5) + 0.0 END AS beta1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf), 5) + 0.0 END AS beta2,
       CASE WHEN ok THEN round(sqrt((i00 * i22 - i02 * i02) / det), 5) + 0.0
       END AS se1,
       CASE WHEN ok THEN round(sqrt((i00 * i11 - i01 * i01) / det), 5) + 0.0
       END AS se2,
       CASE WHEN ok THEN round((SELECT b1 FROM bf) * (SELECT b1 FROM bf)
                               / ((i00 * i22 - i02 * i02) / det), 5) + 0.0
       END AS wald_chi2_1,
       CASE WHEN ok THEN round((SELECT b2 FROM bf) * (SELECT b2 FROM bf)
                               / ((i00 * i11 - i01 * i01) / det), 5) + 0.0
       END AS wald_chi2_2,
       coalesce(n, 0) AS n, coalesce(sy, 0.0) AS y_total,
       CASE WHEN ok
            THEN round(sqrt(u0 * u0 + u1 * u1 + u2 * u2), 5) + 0.0
       END AS score_norm
FROM (SELECT *, i00 * (i11 * i22 - i12 * i12)
                - i01 * (i01 * i22 - i12 * i02)
                + i02 * (i01 * i12 - i11 * i02) AS det,
             (SELECT b0 FROM bf) IS NOT NULL
             AND i00 * (i11 * i22 - i12 * i12)
                 - i01 * (i01 * i22 - i12 * i02)
                 + i02 * (i01 * i12 - i11 * i02) > 0 AS ok
      FROM fin)
"""


@q("dx_poisson_multi", _poisson_multi_irls_sql(4))
def dx_poisson_multi_q(spark, sf):
    # Multi-covariate Poisson regression (operators/assoc.py
    # poisson_newton_multi): per-customer order volume vs nation band
    # ADJUSTED for a custkey-parity band — log rate per unit of each,
    # jointly, completing the multi-covariate GLM ladder
    # (dx_logistic_multi / surv_cox_multi). One pass to the 15-cell
    # joint grid, collected once; each Newton step is a driver pass
    # over it + a 3x3 Cramer solve; the oracle replays the identical
    # recurrence from the same saturated-intercept start.
    from clinpy_spark.operators.assoc import poisson_newton_multi

    cust = _t(spark, sf, "customer").select(
        "c_custkey",
        (F.col("c_nationkey") % 5).cast("double").alias("x1"),
        (F.col("c_custkey") % 3).cast("double").alias("x2"),
    )
    per_c = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    base = cust.join(
        per_c, cust.c_custkey == per_c.o_custkey, "left"
    ).select("x1", "x2", F.coalesce("n_orders", F.lit(0)).alias("y"))
    return poisson_newton_multi(base, ["x1", "x2"], "y", iterations=4)


@q("dx_cohen_kappa", """
WITH r AS (SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 'hi' ELSE 'lo' END AS a,
                  CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS b
           FROM orders),
g AS MATERIALIZED (SELECT a, b, CAST(count(*) AS BIGINT) AS n
                   FROM r GROUP BY a, b),
t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM g),
ma AS (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM g GROUP BY a),
mb AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM g GROUP BY b),
pe AS (SELECT sum(CAST(na AS DOUBLE) * nb
                  / (CAST(tot AS DOUBLE) * tot)) AS pe
       FROM ma JOIN mb ON ma.a = mb.b CROSS JOIN t),
st AS (SELECT (SELECT tot FROM t) AS n,
              CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS DOUBLE)
                / (SELECT tot FROM t) AS po,
              (SELECT CAST(count(DISTINCT c) AS BIGINT)
               FROM (SELECT a AS c FROM g UNION ALL SELECT b FROM g)) AS ka
       FROM g)
SELECT n, ka AS n_categories, round(po, 6) AS po,
       round(coalesce(pe, 0), 6) AS pe,
       CASE WHEN coalesce(pe, 0) < 1
            THEN round((po - coalesce(pe, 0)) / (1 - coalesce(pe, 0)), 6)
       END AS kappa,
       CASE WHEN coalesce(pe, 0) < 1 AND po > 0 AND po < 1
            THEN round(sqrt(po * (1 - po))
                       / ((1 - coalesce(pe, 0)) * sqrt(CAST(n AS DOUBLE))), 6)
       END AS se0,
       CASE WHEN coalesce(pe, 0) < 1 AND po > 0 AND po < 1
            THEN round(((po - coalesce(pe, 0)) / (1 - coalesce(pe, 0)))
                       / (sqrt(po * (1 - po))
                          / ((1 - coalesce(pe, 0))
                             * sqrt(CAST(n AS DOUBLE)))), 6)
       END AS z
FROM st CROSS JOIN pe
""")
def dx_cohen_kappa_q(spark, sf):
    # Cohen's kappa inter-rater agreement (operators/assoc.py
    # cohen_kappa): do the priority-based and price-based 'urgency
    # raters' agree beyond chance — THE label-quality audit statistic
    # when two annotators or a model and a gold standard rate the same
    # items. One groupBy to the bounded contingency grid; marginal
    # chance rate from grid-sized joins.
    from clinpy_spark.operators.assoc import cohen_kappa

    o = _t(spark, sf, "orders").select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "hi")
        .otherwise("lo").alias("a"),
        F.when(F.col("o_totalprice") > 150000, "hi").otherwise("lo")
        .alias("b"),
    )
    return cohen_kappa(o, "a", "b")


@q("q_wilson_ci", """
WITH g AS (SELECT o_orderpriority AS grp,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN o_totalprice > 150000
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
           FROM orders GROUP BY o_orderpriority)
SELECT grp, n, k,
       round(CAST(k AS DOUBLE) / n, 6) AS phat,
       round(GREATEST(
         ((CAST(k AS DOUBLE) / n + (1.959964 * 1.959964) / (2 * CAST(n AS DOUBLE)))
          / (1 + (1.959964 * 1.959964) / CAST(n AS DOUBLE)))
         - (1.959964 * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                            / n + (1.959964 * 1.959964)
                            / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
            / (1 + (1.959964 * 1.959964) / CAST(n AS DOUBLE))), 0.0), 6) AS ci_lo,
       round(LEAST(
         ((CAST(k AS DOUBLE) / n + (1.959964 * 1.959964) / (2 * CAST(n AS DOUBLE)))
          / (1 + (1.959964 * 1.959964) / CAST(n AS DOUBLE)))
         + (1.959964 * sqrt((CAST(k AS DOUBLE) / n) * (1 - CAST(k AS DOUBLE) / n)
                            / n + (1.959964 * 1.959964)
                            / (4 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
            / (1 + (1.959964 * 1.959964) / CAST(n AS DOUBLE))), 1.0), 6) AS ci_hi
FROM g
""")
def q_wilson_ci_q(spark, sf):
    # Per-priority Wilson score interval (operators/assoc.py
    # wilson_ci) for the high-price order rate: the binomial interval
    # that holds coverage at small n / extreme rates where Wald
    # collapses — the standard epi/monitoring readout. Closed form per
    # group from exact integer (n, k); one groupBy, no window.
    from clinpy_spark.operators.assoc import wilson_ci

    o = _t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        (F.col("o_totalprice") > 150000).cast("int").alias("s"),
    )
    return wilson_ci(o, "grp", "s")


def _negbin_sql(iterations: int) -> str:
    """Chained-CTE replay of negbin_newton's two-stage chain: the
    Poisson Newton steps, the Cameron-Trivedi moment dispersion at the
    Poisson fit, then the NB2 Fisher-scoring steps — every step CTE
    MATERIALIZED (scalar-subquery references would otherwise re-inline
    the whole chain per reference)."""
    pois_mom = """ (SELECT b0, b1, sum(sy - n * mu) AS u0,
              sum(x * (sy - n * mu)) AS u1,
              sum(n * mu) AS i00, sum(x * n * mu) AS i01,
              sum(x * x * n * mu) AS i11
       FROM (SELECT x, n, sy, b0, b1, exp(b0 + b1 * x) AS mu
             FROM grid CROSS JOIN {prev})
       GROUP BY b0, b1)"""
    upd2 = """ (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01)
         END AS b0,
         CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01)
         END AS b1{alpha_sel}
        FROM m{i})"""
    nb_mom = """ (SELECT b0, b1, alpha,
              sum((sy - n * mu) / (1 + alpha * mu)) AS u0,
              sum(x * (sy - n * mu) / (1 + alpha * mu)) AS u1,
              sum(n * mu / (1 + alpha * mu)) AS i00,
              sum(x * n * mu / (1 + alpha * mu)) AS i01,
              sum(x * x * n * mu / (1 + alpha * mu)) AS i11
       FROM (SELECT x, n, sy, b0, b1, alpha, exp(b0 + b1 * x) AS mu
             FROM grid CROSS JOIN {prev})
       GROUP BY b0, b1, alpha)"""
    ctes = ["""cnt AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_custkey)""",
            """obs AS (SELECT CAST(c_nationkey % 5 AS DOUBLE) AS x,
         CAST(coalesce(n_orders, 0) AS DOUBLE) AS y
  FROM customer LEFT JOIN cnt ON o_custkey = c_custkey)""",
            """grid AS MATERIALIZED (
  SELECT x, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy,
         sum(y * y) AS syy
  FROM obs GROUP BY x)""",
            """bc0 AS MATERIALIZED (
  SELECT CASE WHEN sum(sy) > 0 THEN ln(sum(sy) / sum(n)) ELSE 0.0 END AS b0,
         0.0 AS b1
  FROM grid)"""]
    prev = "bc0"
    for i in range(1, iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + pois_mom.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED"
                    + upd2.format(i=i, alpha_sel=""))
        prev = f"bc{i}"
    ctes.append(f"""ad AS MATERIALIZED (
  SELECT b0, b1,
         CASE WHEN sum(n * mu * mu) > 0
              AND sum((syy - 2 * mu * sy + n * mu * mu) - n * mu) > 0
              THEN sum((syy - 2 * mu * sy + n * mu * mu) - n * mu)
                   / sum(n * mu * mu)
              ELSE 0.0 END AS alpha
  FROM (SELECT x, n, sy, syy, b0, b1, exp(b0 + b1 * x) AS mu
        FROM grid CROSS JOIN {prev})
  GROUP BY b0, b1)""")
    prev = "ad"
    for i in range(iterations + 1, 2 * iterations + 1):
        ctes.append(f"m{i} AS MATERIALIZED" + nb_mom.format(prev=prev))
        ctes.append(f"bc{i} AS MATERIALIZED"
                    + upd2.format(i=i, alpha_sel=", alpha"))
        prev = f"bc{i}"
    ctes.append(f"""fin AS MATERIALIZED (
  SELECT b0, b1, alpha,
         sum(n * mu / (1 + alpha * mu)) AS i00,
         sum(x * n * mu / (1 + alpha * mu)) AS i01,
         sum(x * x * n * mu / (1 + alpha * mu)) AS i11,
         sum((sy - n * mu) / (1 + alpha * mu)) AS u0,
         sum(x * (sy - n * mu) / (1 + alpha * mu)) AS u1,
         CAST(sum(n) AS BIGINT) AS n, sum(sy) AS y_total
  FROM (SELECT x, n, sy, b0, b1, alpha, exp(b0 + b1 * x) AS mu
        FROM grid CROSS JOIN {prev})
  GROUP BY b0, b1, alpha)""")
    return "WITH " + ",\n".join(ctes) + """
SELECT CASE WHEN ok THEN round(b0, 6) + 0.0 END AS beta0,
       CASE WHEN ok THEN round(b1, 6) + 0.0 END AS beta1,
       CASE WHEN ok THEN round(exp(b1), 6) + 0.0 END AS rate_ratio,
       CASE WHEN ok THEN round(sqrt(i00 / det), 6) + 0.0 END AS se1,
       CASE WHEN ok THEN round(b1 * b1 / (i00 / det), 6) + 0.0
       END AS wald_chi2,
       CASE WHEN ok THEN round(alpha, 6) + 0.0 END AS alpha,
       coalesce(n, 0) AS n, round(coalesce(y_total, 0.0), 6) AS y_total,
       CASE WHEN ok THEN round(sqrt(u0 * u0 + u1 * u1), 6) + 0.0
       END AS score_norm
FROM (SELECT *, i00 * i11 - i01 * i01 AS det,
             b0 IS NOT NULL AND b1 IS NOT NULL
             AND i00 * i11 - i01 * i01 > 0 AS ok
      FROM fin)
"""


@q("dx_negbin", _negbin_sql(4))
def dx_negbin_q(spark, sf):
    # Negative-binomial regression (operators/assoc.py negbin_newton):
    # per-customer order volume vs nation band with the OVERDISPERSION
    # real count data carries — Poisson SEs deflate when var > mean;
    # NB2 widens them by the Cameron-Trivedi moment dispersion and
    # refits by Fisher scoring from the Poisson solution. Whole chain
    # grid-aggregate-sized; the oracle replays the identical
    # Poisson -> alpha -> NB CTE chain.
    from clinpy_spark.operators.assoc import negbin_newton

    cust = _t(spark, sf, "customer").select(
        "c_custkey", (F.col("c_nationkey") % 5).cast("double").alias("x"))
    per_c = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    )
    base = cust.join(
        per_c, cust.c_custkey == per_c.o_custkey, "left"
    ).select("x", F.coalesce("n_orders", F.lit(0)).cast("double").alias("y"))
    return negbin_newton(base, "x", "y", iterations=4)


@q("gx_haplotype_em", f"""
WITH g AS ({_GRID_GENO_SQL}),
va AS (SELECT c_custkey AS s, gt AS ga FROM g WHERE variant = 7),
vb AS (SELECT c_custkey AS s, gt AS gb FROM g WHERE variant = 13),
j AS (SELECT ga, gb FROM va JOIN vb USING (s)
      WHERE ga IS NOT NULL AND gb IS NOT NULL),
cnt AS (SELECT
  CAST(sum(CASE WHEN ga=0 AND gb=0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
  CAST(sum(CASE WHEN ga=0 AND gb=1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
  CAST(sum(CASE WHEN ga=0 AND gb=2 THEN 1 ELSE 0 END) AS BIGINT) AS n02,
  CAST(sum(CASE WHEN ga=1 AND gb=0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
  CAST(sum(CASE WHEN ga=1 AND gb=1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
  CAST(sum(CASE WHEN ga=1 AND gb=2 THEN 1 ELSE 0 END) AS BIGINT) AS n12,
  CAST(sum(CASE WHEN ga=2 AND gb=0 THEN 1 ELSE 0 END) AS BIGINT) AS n20,
  CAST(sum(CASE WHEN ga=2 AND gb=1 THEN 1 ELSE 0 END) AS BIGINT) AS n21,
  CAST(sum(CASE WHEN ga=2 AND gb=2 THEN 1 ELSE 0 END) AS BIGINT) AS n22,
  CAST(count(*) AS BIGINT) AS n_samples
 FROM j),
c0 AS (SELECT *,
  CAST(2 * n22 + n21 + n12 AS DOUBLE) AS b11,
  CAST(2 * n20 + n21 + n10 AS DOUBLE) AS b10,
  CAST(2 * n02 + n12 + n01 AS DOUBLE) AS b01,
  CAST(2 * n00 + n10 + n01 AS DOUBLE) AS b00,
  CAST(n11 AS DOUBLE) AS dh,
  2 * CAST(n_samples AS DOUBLE) AS tn
 FROM cnt),
c1 AS (SELECT *,
  (b11 + b10 + dh) / tn AS pa, (b11 + b01 + dh) / tn AS pb
 FROM c0),
e0 AS (SELECT *, pa * pb AS p11, pa * (1 - pb) AS p10,
              (1 - pa) * pb AS p01, (1 - pa) * (1 - pb) AS p00
       FROM c1),
e1 AS (SELECT * REPLACE (
         (b11 + f * dh) / tn AS p11, (b10 + (1 - f) * dh) / tn AS p10,
         (b01 + (1 - f) * dh) / tn AS p01, (b00 + f * dh) / tn AS p00)
       FROM (SELECT *, CASE WHEN p11 * p00 + p10 * p01 > 0
                    THEN p11 * p00 / (p11 * p00 + p10 * p01)
                    ELSE 0.5 END AS f FROM e0)),
e2 AS (SELECT * REPLACE (
         (b11 + f2 * dh) / tn AS p11, (b10 + (1 - f2) * dh) / tn AS p10,
         (b01 + (1 - f2) * dh) / tn AS p01, (b00 + f2 * dh) / tn AS p00)
       FROM (SELECT *, CASE WHEN p11 * p00 + p10 * p01 > 0
                    THEN p11 * p00 / (p11 * p00 + p10 * p01)
                    ELSE 0.5 END AS f2 FROM e1)),
e3 AS (SELECT * REPLACE (
         (b11 + f3 * dh) / tn AS p11, (b10 + (1 - f3) * dh) / tn AS p10,
         (b01 + (1 - f3) * dh) / tn AS p01, (b00 + f3 * dh) / tn AS p00)
       FROM (SELECT *, CASE WHEN p11 * p00 + p10 * p01 > 0
                    THEN p11 * p00 / (p11 * p00 + p10 * p01)
                    ELSE 0.5 END AS f3 FROM e2)),
e4 AS (SELECT * REPLACE (
         (b11 + f4 * dh) / tn AS p11, (b10 + (1 - f4) * dh) / tn AS p10,
         (b01 + (1 - f4) * dh) / tn AS p01, (b00 + f4 * dh) / tn AS p00)
       FROM (SELECT *, CASE WHEN p11 * p00 + p10 * p01 > 0
                    THEN p11 * p00 / (p11 * p00 + p10 * p01)
                    ELSE 0.5 END AS f4 FROM e3)),
e5 AS (SELECT * REPLACE (
         (b11 + f5 * dh) / tn AS p11, (b10 + (1 - f5) * dh) / tn AS p10,
         (b01 + (1 - f5) * dh) / tn AS p01, (b00 + f5 * dh) / tn AS p00)
       FROM (SELECT *, CASE WHEN p11 * p00 + p10 * p01 > 0
                    THEN p11 * p00 / (p11 * p00 + p10 * p01)
                    ELSE 0.5 END AS f5 FROM e4)),
fin AS (SELECT *, p11 - pa * pb AS d FROM e5)
SELECT round(p11, 6) AS p11, round(p10, 6) AS p10,
       round(p01, 6) AS p01, round(p00, 6) AS p00,
       round(d, 6) AS d,
       CASE WHEN (CASE WHEN d >= 0
                  THEN LEAST(pa * (1 - pb), (1 - pa) * pb)
                  ELSE LEAST(pa * pb, (1 - pa) * (1 - pb)) END) > 0
            THEN round(abs(d) / (CASE WHEN d >= 0
                  THEN LEAST(pa * (1 - pb), (1 - pa) * pb)
                  ELSE LEAST(pa * pb, (1 - pa) * (1 - pb)) END), 6)
       END AS d_prime,
       CASE WHEN pa * (1 - pa) * pb * (1 - pb) > 0
            THEN round(d * d / (pa * (1 - pa) * pb * (1 - pb)), 6)
       END AS r2,
       n_samples, n11 AS n_double_het
FROM fin
""")
def gx_haplotype_em_q(spark, sf):
    # Two-locus haplotype EM (operators/assoc.py haplotype_em,
    # Hill 1974 gene counting) for variants 7 x 13: gametic D/D'/r2
    # from unphased dosages — the phased linkage readout gx_ld_r2's
    # genotype correlation approximates. 5 unrolled EM steps over the
    # 1-row 9-cell count aggregate; the oracle replays them as
    # chained CTEs.
    from clinpy_spark.operators.assoc import haplotype_em

    g = _grid_geno(spark, sf)
    return haplotype_em(g, "c_custkey", "variant", "gt", 7, 13,
                        iterations=5)


@q("q_mad_outliers", """
WITH g AS (SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders),
med AS (SELECT grp, quantile_cont(v, 0.5) AS med FROM g GROUP BY grp),
dev AS (SELECT g.grp, abs(v - med) AS ad, med FROM g JOIN med USING (grp)),
o AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, max(med) AS med,
             quantile_cont(ad, 0.5) AS mad
      FROM dev GROUP BY grp),
fl AS (SELECT dev.grp,
              CAST(sum(CASE WHEN ad > 3.0 * 1.4826 * o.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
       FROM dev JOIN o USING (grp) GROUP BY dev.grp)
SELECT o.grp AS o_orderpriority, n, round(o.med, 6) AS med,
       round(o.mad, 6) AS mad, n_outliers,
       round(CAST(n_outliers AS DOUBLE) / n, 6) AS outlier_frac
FROM o JOIN fl USING (grp)
""")
def q_mad_outliers_q(spark, sf):
    # Median/MAD robust outlier gate per order priority
    # (operators/quality.py mad_outliers): the heavy-tail-proof
    # anomaly count a mean/stddev z-score would inflate. Exact
    # interpolated percentiles on both engines (the o4 convention).
    from clinpy_spark.operators.quality import mad_outliers

    o = _t(spark, sf, "orders")
    return mad_outliers(o, "o_orderpriority", "o_totalprice", n_mads=3.0)




@q("dx_ols_inference", """
WITH m AS (SELECT l_returnflag,
    CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4)))
      AS DOUBLE) AS syy,
    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
      AS sxy
  FROM lineitem GROUP BY l_returnflag),
c AS (SELECT l_returnflag, n, sx, sy,
             sxx - sx * sx / n AS cxx,
             syy - sy * sy / n AS cyy,
             sxy - sx * sy / n AS cxy
      FROM m)
SELECT l_returnflag, n,
  CASE WHEN n >= 3 AND cxx > 0 THEN round(cxy / cxx, 6) END AS slope,
  CASE WHEN n >= 3 AND cxx > 0
       THEN round((sy - (cxy / cxx) * sx) / n, 6) END AS intercept,
  CASE WHEN n >= 3 AND cxx > 0
        AND (cyy - (cxy / cxx) * cxy) / (n - 2) > 0
       THEN round(sqrt(((cyy - (cxy / cxx) * cxy) / (n - 2)) / cxx), 6)
  END AS se_slope,
  CASE WHEN n >= 3 AND cxx > 0
        AND (cyy - (cxy / cxx) * cxy) / (n - 2) > 0
       THEN round((cxy / cxx)
            / sqrt(((cyy - (cxy / cxx) * cxy) / (n - 2)) / cxx), 6)
  END AS t_slope,
  CASE WHEN n >= 3 AND cxx > 0 AND cyy > 0
       THEN round(cxy * cxy / (cxx * cyy), 6) END AS r2
FROM c
""")
def dx_ols_inference_q(spark, sf):
    # Per-returnflag OLS inference (operators/quality.py ols_inference):
    # price-per-quantity slope with standard error, t statistic, and
    # r2 — group_trends plus the "is this slope real" layer. All six
    # moments route through DECIMAL(28,4) (quantity ints, price 2dp:
    # products have <= 4 decimals), so both engines agg EXACTLY and
    # the closed forms match to the rounding digit.
    from clinpy_spark.operators.quality import ols_inference

    li = _t(spark, sf, "lineitem")
    return ols_inference(
        li, "l_quantity", "l_extendedprice", "l_returnflag",
        decimal_scale=4)


@q("dedup_lsh_plan", """
WITH cand AS (
  SELECT CAST(b AS INT) AS bands, CAST(64 // b AS INT) AS rows_per_band,
         pow(1.0 / b, 1.0 / (64 // b)) AS s50
  FROM (SELECT unnest(generate_series(1, 64)) AS b)
  WHERE 64 % b = 0),
r AS (SELECT bands, rows_per_band, s50,
             1 - pow(1 - pow(0.8, CAST(rows_per_band AS DOUBLE)),
                     CAST(bands AS DOUBLE)) AS p_at,
             1 - pow(1 - pow(0.4, CAST(rows_per_band AS DOUBLE)),
                     CAST(bands AS DOUBLE)) AS p_half,
             row_number() OVER (ORDER BY abs(s50 - 0.8) ASC, bands ASC) AS rk
      FROM cand)
SELECT bands, rows_per_band, round(s50, 6) AS s50,
       round(p_at, 6) AS p_at_threshold,
       round(p_half, 6) AS p_at_half_threshold,
       rk = 1 AS recommended
FROM r
""")
def dedup_lsh_plan_q(spark, sf):
    # MinHash-LSH banding planner (operators/dedup.py lsh_plan): the
    # design-time S-curve table for 64 permutations at target Jaccard
    # 0.8 — pick the (bands, rows) whose collision midpoint sits on
    # the threshold BEFORE paying a corpus pass. Constant-size compute;
    # closed forms replayed exactly.
    from clinpy_spark.operators.dedup import lsh_plan

    return lsh_plan(spark, num_hashes=64, threshold=0.8)


@q("drift_ad_value", """
WITH t AS (SELECT o_totalprice AS v,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ia
           FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
pv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS la,
              CAST(sum(1 - ia) AS BIGINT) AS lb
       FROM t GROUP BY v),
g AS (SELECT v, la, lb,
        CAST(sum(la + lb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS DOUBLE) AS cl,
        CAST(sum(la) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS DOUBLE) AS ca,
        CAST(sum(lb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS DOUBLE) AS cb,
        CAST(sum(la) OVER () AS DOUBLE) AS na,
        CAST(sum(lb) OVER () AS DOUBLE) AS nb
      FROM pv),
terms AS (SELECT
    CAST(la + lb AS DOUBLE) AS l, na, nb, na + nb AS nn,
    cl - CAST(la + lb AS DOUBLE) / 2 AS bj,
    ca - CAST(la AS DOUBLE) / 2 AS ma,
    cb - CAST(lb AS DOUBLE) / 2 AS mb
  FROM g),
tt AS (SELECT na, nb, nn,
    (bj * (nn - bj) - nn * l / 4) AS den,
    (l / nn) * (nn * ma - na * bj) * (nn * ma - na * bj)
      / (bj * (nn - bj) - nn * l / 4) AS ta,
    (l / nn) * (nn * mb - nb * bj) * (nn * mb - nb * bj)
      / (bj * (nn - bj) - nn * l / 4) AS tb
  FROM terms),
a AS (SELECT sum(CASE WHEN den > 0 THEN ta ELSE 0 END) AS sa,
             sum(CASE WHEN den > 0 THEN tb ELSE 0 END) AS sb,
             CAST(sum(CASE WHEN den > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nv_ok,
             max(na) AS na, max(nb) AS nb,
             CAST(count(*) AS BIGINT) AS n_values
      FROM tt)
SELECT CASE WHEN nv_ok > 0 AND na > 0 AND nb > 0
            THEN round((na + nb - 1) / (na + nb) * (sa / na + sb / nb), 6)
       END AS a2,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b, n_values
FROM a
""")
def drift_ad_value_q(spark, sf):
    # Two-sample Anderson-Darling drift monitor (operators/drift.py
    # anderson_darling_2sample, Scholz-Stephens tie-adjusted form):
    # URGENT vs LOW order-value distributions with tail-weighted
    # sensitivity the KS gap misses. Same per-distinct-value grid as
    # the KS/Mann-Whitney family; every midrank term is a half-integer.
    from clinpy_spark.operators.drift import anderson_darling_2sample

    o = _t(spark, sf, "orders")
    return anderson_darling_2sample(
        o, "o_totalprice", "o_orderpriority", "1-URGENT", "5-LOW")


@q("g_knearest", """
WITH f AS (
  SELECT c_custkey AS f_id, c_nationkey % 3 AS chrom,
         (c_custkey * 37) % 100000 AS f_start,
         (c_custkey * 37) % 100000 + 500 AS f_end
  FROM customer),
qq AS (
  SELECT s_suppkey AS id, s_nationkey % 3 AS chrom,
         (s_suppkey * 91) % 100000 AS q_start,
         (s_suppkey * 91) % 100000 + 200 AS q_end
  FROM supplier),
cand AS (
  SELECT qq.id, qq.chrom, qq.q_start, qq.q_end, f.f_id,
         greatest(0, f.f_start - qq.q_end, qq.q_start - f.f_end) AS distance
  FROM qq JOIN f USING (chrom))
SELECT id, chrom, q_start AS start, q_end AS "end", f_id,
       CAST(distance AS BIGINT) AS distance, CAST(rk AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id
        ORDER BY distance, f_id) AS rk
      FROM cand WHERE distance <= 2000)
WHERE rk <= 3
""")
def g_knearest_q(spark, sf):
    # k-nearest interval annotation (operators/genome.py
    # knearest_features): the 3 closest features within 2 kb per query
    # interval — the k-ary extension of j16_nearest_feature, candidates
    # from ONE radius-expanded binned join (large-large safe); the
    # oracle brute-forces all pairs per chrom and must agree exactly.
    from clinpy_spark.operators.genome import knearest_features

    cust = _t(spark, sf, "customer")
    supp = _t(spark, sf, "supplier")
    feats = cust.select(
        F.col("c_custkey").alias("id"),
        (F.col("c_nationkey") % 3).alias("chrom"),
        ((F.col("c_custkey") * 37) % 100000).alias("start"),
        ((F.col("c_custkey") * 37) % 100000 + 500).alias("end"),
    )
    qs = supp.select(
        F.col("s_suppkey").alias("id"),
        (F.col("s_nationkey") % 3).alias("chrom"),
        ((F.col("s_suppkey") * 91) % 100000).alias("start"),
        ((F.col("s_suppkey") * 91) % 100000 + 200).alias("end"),
    )
    return knearest_features(
        qs, feats, k=3, max_distance=2000, bin_size=10_000)


@q("curate_dsir_head", """
WITH tgt AS (SELECT text FROM documents WHERE source IN ('src18','src7','src6')),
ctok AS (SELECT doc_id,
                ('0x' || substr(md5(tok || ':dsir'), 1, 8))::BIGINT % 256 AS b
         FROM (SELECT doc_id,
                      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
               FROM documents)
         WHERE tok <> ''),
ttok AS (SELECT ('0x' || substr(md5(tok || ':dsir'), 1, 8))::BIGINT % 256 AS b
         FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
               FROM tgt)
         WHERE tok <> ''),
spine AS (SELECT unnest(generate_series(0, 255)) AS b),
cs AS (SELECT b, CAST(count(*) AS BIGINT) AS ns FROM ctok GROUP BY b),
ct AS (SELECT b, CAST(count(*) AS BIGINT) AS nt FROM ttok GROUP BY b),
hist AS (SELECT spine.b, coalesce(ns, 0) AS ns, coalesce(nt, 0) AS nt
         FROM spine LEFT JOIN cs ON cs.b = spine.b
         LEFT JOIN ct ON ct.b = spine.b),
tot AS (SELECT CAST(sum(ns) AS BIGINT) AS ts, CAST(sum(nt) AS BIGINT) AS tt
        FROM hist),
ratio AS (SELECT b,
            ln((CAST(nt AS DOUBLE) + 1) / (CAST(tt AS DOUBLE) + 256.0))
            - ln((CAST(ns AS DOUBLE) + 1) / (CAST(ts AS DOUBLE) + 256.0)) AS lr
          FROM hist CROSS JOIN tot),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              sum(lr) / count(*) AS lw
       FROM ctok JOIN ratio USING (b) GROUP BY doc_id),
rk AS (SELECT doc_id, n_tokens, round(lw, 6) AS log_importance,
              row_number() OVER (ORDER BY round(lw, 6) DESC, doc_id ASC)
                AS rank
       FROM pd)
SELECT doc_id, n_tokens, log_importance, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 50
""")
def curate_dsir_head_q(spark, sf):
    # DSIR importance selection head (operators/curate.py dsir_weights,
    # Xie 2023): score every doc by how target-like its hashed-unigram
    # profile is (target = the three trusted sources), keep the top 50
    # by length-normalized log-importance. Ranks order by the ROUNDED
    # weight with id tie-break so exact-duplicate docs (bit-equal
    # profiles) rank deterministically in any engine.
    from clinpy_spark.operators.curate import dsir_weights

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("source").isin("src18", "src7", "src6"))
    w = dsir_weights(docs, target, n_buckets=256, seed="dsir")
    win = Window.orderBy(
        F.col("log_importance").desc(), F.col("doc_id").asc())
    return (
        w.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 50)
    )




@q("surv_cox_strat", """
WITH obs AS (
  SELECT o_custkey % 3 AS st,
         LEAST(h % 1500 + 1, dd) AS duration,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
  FROM (SELECT o_orderpriority, o_custkey,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT AS h,
               datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
pt AS (SELECT st, duration AS t,
         CAST(sum(evt) AS BIGINT) AS d,
         CAST(sum(evt * x) AS BIGINT) AS d1,
         CAST(count(*) AS BIGINT) AS r,
         CAST(sum(x) AS BIGINT) AS r1
       FROM obs GROUP BY st, duration),
w AS (SELECT *,
        sum(r) OVER (PARTITION BY st)
          - coalesce(sum(r) OVER (PARTITION BY st ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        sum(r1) OVER (PARTITION BY st)
          - coalesce(sum(r1) OVER (PARTITION BY st ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM pt),
f AS MATERIALIZED (SELECT t, d, d1, n, n1 FROM w WHERE d > 0),
i1 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp(0.0) AS s1,
                    (n - n1) + n1 * exp(0.0) AS s0 FROM f)),
b1 AS (SELECT CASE WHEN i > 0 THEN 0.0 + u / i END AS beta FROM i1),
i2 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b1)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b1)) AS s0 FROM f)),
b2 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b1) + u / i END AS beta FROM i2),
i3 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b2)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b2)) AS s0 FROM f)),
b3 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b2) + u / i END AS beta FROM i3),
fin AS (SELECT sum(d * (s1 / s0) * (1 - s1 / s0)) AS i,
               CAST(sum(d) AS BIGINT) AS n_events
        FROM (SELECT d, n1 * exp((SELECT beta FROM b3)) AS s1,
                     (n - n1) + n1 * exp((SELECT beta FROM b3)) AS s0 FROM f))
SELECT CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round((SELECT beta FROM b3), 6) END AS beta,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round(exp((SELECT beta FROM b3)), 6) END AS hr,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round(1 / sqrt(i), 6) END AS se,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round((SELECT beta FROM b3) * (SELECT beta FROM b3) * i, 6)
       END AS wald_chi2,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM obs) AS n_subjects,
       (SELECT CAST(count(DISTINCT st) AS BIGINT) FROM obs) AS n_strata
FROM fin
""")
def surv_cox_strat_q(spark, sf):
    # Stratified Cox MLE (operators/survival.py cox_newton_stratified):
    # the URGENT-vs-LOW hazard ratio with each customer band keeping
    # its own baseline hazard — the Cox twin of surv_logrank_strat.
    # The partial likelihood factorizes over strata, so the SAME
    # _fit_binary_cox iterates over the per-(stratum, time) grid; the
    # oracle replays 3 chained Newton CTEs with stratum-partitioned
    # risk-set windows.
    from clinpy_spark.operators.survival import cox_newton_stratified

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        (F.col("o_custkey") % 3).alias("st"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("x"),
    )
    return cox_newton_stratified(
        obs, "duration", "evt", "x", "st", iterations=3)


@q("gx_sfs", f"""
WITH g AS ({_GRID_GENO_SQL}),
pv AS (SELECT variant, CAST(sum(gt) AS BIGINT) AS ac,
              CAST(2 * count(*) AS BIGINT) AS an
       FROM g GROUP BY variant),
h AS (SELECT LEAST(ac, an - ac) AS allele_count,
             CAST(count(*) AS BIGINT) AS n_variants
      FROM pv GROUP BY 1),
t AS (SELECT CAST(sum(n_variants) AS BIGINT) AS tt FROM h)
SELECT allele_count, n_variants,
       round(CAST(n_variants AS DOUBLE) / tt, 6) AS frac
FROM h CROSS JOIN t
""")
def gx_sfs_q(spark, sf):
    # Folded site frequency spectrum (operators/assoc.py
    # site_frequency_spectrum): the minor-allele-count histogram whose
    # shape Tajima's D condenses — one per-variant aggregate, one
    # bounded histogram groupBy.
    from clinpy_spark.operators.assoc import site_frequency_spectrum

    return site_frequency_spectrum(
        _grid_geno(spark, sf), "variant", "gt", folded=True)


@q("graph_jaccard_links", f"""
WITH e0 AS ({_COPURCHASE_SQL}),
e AS MATERIALIZED (SELECT u, v FROM e0),
b AS MATERIALIZED (SELECT u AS w, v AS n FROM e UNION ALL SELECT v, u FROM e),
deg AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS deg
                     FROM b GROUP BY w),
c AS MATERIALIZED (SELECT b.w, b.n FROM b JOIN deg d ON b.w = d.w
                   WHERE d.deg BETWEEN 2 AND 64),
wed AS (SELECT x.n AS u, y.n AS v
        FROM c x JOIN c y ON x.w = y.w AND x.n < y.n),
sc AS (SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors
       FROM wed GROUP BY u, v HAVING count(*) >= 2),
cdeg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM c GROUP BY n),
nj AS (SELECT sc.u, sc.v, sc.common_neighbors, du.deg AS du, dv.deg AS dv
       FROM sc JOIN cdeg du ON du.n = sc.u JOIN cdeg dv ON dv.n = sc.v
       WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = sc.u AND e.v = sc.v))
SELECT u AS x, v AS y, common_neighbors,
       round(common_neighbors
             / CAST(du + dv - common_neighbors AS DOUBLE), 6) AS jaccard
FROM nj
""")
def graph_jaccard_links_q(spark, sf):
    # Jaccard link prediction on the co-purchase graph
    # (operators/graph.py jaccard_links): the degree-normalized
    # sibling of graph_adamic_adar — same celebrity-capped wedge
    # enumeration; union term = capped neighborhood sizes, so the
    # score is the exact Jaccard of the capped neighborhoods.
    from clinpy_spark.operators.graph import jaccard_links

    return jaccard_links(
        _copurchase(spark, sf), "u", "v",
        max_center_degree=64, min_common=2)




@q("e_pacf", """
WITH d AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS x
           FROM events GROUP BY 1),
t AS (SELECT row_number() OVER (ORDER BY day) AS t, x FROM d),
g AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS s, sum(x * x) AS ss
      FROM t),
l AS (SELECT unnest(generate_series(1, 3)) AS lag),
pl AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
              sum(a.x * b.x) AS pk, sum(a.x) AS ak, sum(b.x) AS bk
       FROM t a CROSS JOIN l JOIN t b ON b.t = a.t + l.lag
       GROUP BY l.lag),
rr AS (SELECT lag,
         CASE WHEN ss - n * (s / n) * (s / n) > 0
              THEN round((pk - (s / n) * (ak + bk)
                          + n_pairs * (s / n) * (s / n))
                         / (ss - n * (s / n) * (s / n)), 6)
         END AS r
       FROM pl CROSS JOIN g),
piv AS (SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
               max(CASE WHEN lag = 2 THEN r END) AS r2,
               max(CASE WHEN lag = 3 THEN r END) AS r3
        FROM rr),
f AS (SELECT r1, r2, r3, 1 - r1 * r1 AS den2,
             (r2 - r1 * r1) / (1 - r1 * r1) AS phi22,
             r1 * (1 - (r2 - r1 * r1) / (1 - r1 * r1)) AS phi21
      FROM piv),
p3 AS (SELECT *,
         1 - phi21 * r1 - phi22 * r2 AS den3,
         (r3 - phi21 * r2 - phi22 * r1)
           / (1 - phi21 * r1 - phi22 * r2) AS phi33
       FROM f)
SELECT lag, pacf FROM (
  SELECT 1 AS lag, round(r1, 6) AS pacf FROM p3
  UNION ALL
  SELECT 2, CASE WHEN den2 <> 0 THEN round(phi22, 6) END FROM p3
  UNION ALL
  SELECT 3, CASE WHEN den2 <> 0 AND den3 <> 0 THEN round(phi33, 6) END
  FROM p3)
""")
def e_pacf_q(spark, sf):
    # Partial autocorrelation at lags 1..3 (operators/windows.py pacf,
    # Durbin-Levinson closed forms over the rounded ACF values): the
    # AR-order diagnostic paired with e_acf — an AR(p) ingest process
    # cuts its PACF off after lag p.
    from clinpy_spark.operators.windows import pacf

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).cast("double").alias("x"))
    return pacf(daily, "day", "x")


@q("s19_neyman_alloc", """
WITH g AS (SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n_pop,
                  sum(o_totalprice) AS s, sum(o_totalprice * o_totalprice) AS ss
           FROM orders GROUP BY 1),
w AS (SELECT *,
        CAST(n_pop AS DOUBLE)
          * sqrt(GREATEST(0.0, ss / n_pop - (s / n_pop) * (s / n_pop))) AS wt
      FROM g),
t AS (SELECT *, sum(wt) OVER () AS tw, sum(n_pop) OVER () AS tn FROM w),
sh AS (SELECT *,
         CASE WHEN tw > 0 THEN wt / tw
              ELSE CAST(n_pop AS DOUBLE) / tn END AS share,
         1000 * (CASE WHEN tw > 0 THEN wt / tw
                 ELSE CAST(n_pop AS DOUBLE) / tn END) AS raw
       FROM t),
fl AS (SELECT *, floor(raw) AS base FROM sh),
rk AS (SELECT *, CAST(1000 - sum(base) OVER () AS BIGINT) AS short,
              row_number() OVER (ORDER BY raw - base DESC, grp ASC) AS rk
       FROM fl)
SELECT grp AS o_orderpriority, n_pop,
  round(sqrt(GREATEST(0.0, ss / n_pop - (s / n_pop) * (s / n_pop))), 6)
    AS stddev,
  round(share, 6) AS share,
  CAST(base + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT) AS alloc_n
FROM rk
""")
def s19_neyman_alloc_q(spark, sf):
    # Neyman-optimal stratified allocation (operators/sample.py
    # neyman_allocation): how many of a 1000-row sample budget each
    # priority stratum deserves (proportional to N_h * S_h), with
    # floor + largest-remainder integerization summing exactly to the
    # budget — the design-time planner upstream of s13's executor.
    from clinpy_spark.operators.sample import neyman_allocation

    o = _t(spark, sf, "orders")
    return neyman_allocation(o, "o_orderpriority", "o_totalprice", 1000)


@q("text_rake", """
WITH words AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
  FROM documents),
tok AS (SELECT doc_id, pos, w[pos + 1] AS token
        FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS pos FROM words)
        WHERE w[pos + 1] <> ''),
st AS (SELECT doc_id, pos, token,
              CASE WHEN token IN ('the', 'and', 'of', 'to', 'a', 'in',
                                  'is', 'it') THEN 1 ELSE 0 END AS stp
       FROM tok),
ph AS (SELECT doc_id, pos, token, stp,
              sum(stp) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
       FROM st),
members AS (SELECT doc_id, pid, pos, token FROM ph WHERE stp = 0),
plen AS (SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS plen,
                string_agg(token, ' ' ORDER BY pos) AS phrase
         FROM members GROUP BY doc_id, pid),
wstats AS (SELECT token, CAST(count(*) AS BIGINT) AS freq,
                  CAST(sum(plen) AS BIGINT) AS deg
           FROM members JOIN plen USING (doc_id, pid) GROUP BY token),
occ AS (SELECT m.doc_id, m.pid,
               round(sum(CAST(deg AS DOUBLE) / freq), 6) AS score
        FROM members m JOIN wstats USING (token) GROUP BY m.doc_id, m.pid),
phr AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(max(len(string_split(phrase, ' '))) AS INT) AS n_words,
               max(score) AS score
        FROM plen JOIN occ USING (doc_id, pid) GROUP BY phrase),
rk AS (SELECT *, row_number() OVER (ORDER BY score DESC, phrase ASC) AS rnk
       FROM phr)
SELECT phrase, n_occurrences, n_words, score, CAST(rnk AS INT) AS rank
FROM rk WHERE rnk <= 20
""")
def text_rake_q(spark, sf):
    # RAKE keyphrase extraction (operators/retrieval.py rake_keywords,
    # Rose 2010): stopword-delimited candidate phrases scored by
    # summed word degree/frequency ratios — corpus top-20 keyphrases.
    # Deterministic phrase reconstruction (array_sort on positions)
    # and rank tie-break on the phrase text.
    from clinpy_spark.functions.text import LANG_STOPWORDS
    from clinpy_spark.operators.retrieval import rake_keywords

    return rake_keywords(
        _t(spark, sf, "documents"), LANG_STOPWORDS["en"], top_k=20)




@q("gx_hwe_exact", f"""
WITH g AS ({_GRID_GENO_SQL}),
pv AS (SELECT variant,
  CAST(sum(CASE WHEN gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nrr,
  CAST(sum(CASE WHEN gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nht,
  CAST(sum(CASE WHEN gt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nalt
 FROM g GROUP BY variant),
base AS (SELECT variant, nht AS nh_obs,
  2 * nrr + nht AS na, 2 * (nrr + nht + nalt) AS an FROM pv),
supp AS (SELECT variant, nh_obs,
  LEAST(na, an - na) AS rare, CAST(an // 2 AS BIGINT) AS n,
  unnest(generate_series(LEAST(na, an - na) % 2, LEAST(na, an - na), 2))
    AS nh
 FROM base),
lw AS (SELECT *,
  sum(CASE WHEN nh = rare % 2 THEN 0.0
      ELSE ln(4 * ((rare - (nh - 2)) / 2)
              * (n - (nh - 2) - (rare - (nh - 2)) / 2))
           - ln(CAST(nh AS DOUBLE) * (nh - 1)) END)
    OVER (PARTITION BY variant ORDER BY nh
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnu
 FROM supp),
lw2 AS (SELECT *,
  exp(lnu - max(lnu) OVER (PARTITION BY variant)) AS u,
  max(CASE WHEN nh = nh_obs THEN lnu END) OVER (PARTITION BY variant)
    AS lnu_obs
 FROM lw)
SELECT variant, CAST(max(nh_obs) AS BIGINT) AS n_het_obs,
       CAST(count(*) AS BIGINT) AS n_support,
       round(LEAST(
         sum(CASE WHEN lnu <= lnu_obs + 0.0000001 THEN u ELSE 0 END)
         / sum(u), 1.0), 9) AS p_exact
FROM lw2 GROUP BY variant
""")
def gx_hwe_exact_q(spark, sf):
    # EXACT Hardy-Weinberg test per variant (operators/assoc.py
    # hwe_exact, Wigginton 2005): the rare-variant QC gate the
    # asymptotic gx_hwe_audit chi-square gets wrong at small expected
    # counts. Factorial-free het-count recurrence as a per-variant
    # ln-ratio prefix sum — the fisher_exact machinery windowed BY
    # VARIANT, so a million-variant biobank runs one explode + two
    # variant-keyed window passes.
    from clinpy_spark.operators.assoc import hwe_exact

    g = _grid_geno(spark, sf)
    per_v = g.groupBy("variant").agg(
        F.sum(F.when(F.col("gt") == 0, 1).otherwise(0)).alias("n_hom_ref"),
        F.sum(F.when(F.col("gt") == 1, 1).otherwise(0)).alias("n_het"),
        F.sum(F.when(F.col("gt") == 2, 1).otherwise(0)).alias("n_hom_alt"),
    )
    return hwe_exact(per_v)


@q("e_theil_sen", """
WITH d AS (SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS DOUBLE) AS p,
                  CAST(count(*) AS DOUBLE) AS x
           FROM events GROUP BY 1),
pr AS (SELECT (b.x - a.x) / (b.p - a.p) AS s
       FROM d a JOIN d b ON a.p < b.p),
sl AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
              quantile_cont(s, 0.5) AS slope
       FROM pr)
SELECT CAST(count(*) AS BIGINT) AS n_periods,
       CAST(max(n_pairs) AS BIGINT) AS n_pairs,
       round(max(slope), 6) AS slope,
       round(quantile_cont(x - slope * p, 0.5), 6) AS intercept
FROM d CROSS JOIN sl
""")
def e_theil_sen_q(spark, sf):
    # Theil-Sen robust trend of the daily event volume
    # (operators/windows.py theil_sen): the median pairwise slope a
    # single anomalous day can't drag — the robust sibling of
    # group_trends' least squares, over the same bounded per-day
    # series as e_cusum_shift/e_acf.
    from clinpy_spark.operators.windows import theil_sen

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"),
                   F.lit("1970-01-01").cast("date"))
        .cast("double").alias("p")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    return theil_sen(daily, "p", "x")




@q("text_heavy_hitters", """
WITH words AS (SELECT string_split_regex(lower(trim(text)), '\\s+') AS w
               FROM documents),
big AS (SELECT w[pos + 1] || ' ' || w[pos + 2] AS item
        FROM (SELECT w, unnest(range(0, len(w) - 1)) AS pos FROM words)),
tot AS (SELECT CAST(count(*) AS BIGINT) AS tn FROM big),
cnt AS (SELECT item, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY item)
SELECT item, n, round(CAST(n AS DOUBLE) / tn, 6) AS frac
FROM cnt CROSS JOIN tot
WHERE n > 0.0012 * tn
""")
def text_heavy_hitters_q(spark, sf):
    # EXACT heavy-hitter token bigrams above 0.12% corpus frequency
    # (operators/sketch.py heavy_hitters): Misra-Gries candidates
    # inside each partition (no shuffle of the unbounded bigram
    # domain), exact recount of the bounded candidate set — output
    # identical to the oracle's full group-count by the MG superset
    # guarantee, which is exactly what the hash-compare proves.
    from clinpy_spark.operators.sketch import heavy_hitters

    docs = _t(spark, sf, "documents").select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"))
    big = docs.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> concat(w[i-1], ' ', w[i]))")
        ).alias("bg"))
    return heavy_hitters(big, "bg", phi=0.0012)




_EN_SW_SQL = "['the','and','of','to','a','in','is','it']"

_FEATURE_SCORE_SQL = f"""
  SELECT CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> list_contains({_EN_SW_SQL}, x))) AS DOUBLE)
         / len(string_split_regex(trim(text), '\\s+')) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE trim(text) <> ''
"""


def _feature_score(spark, sf):
    """(s, y): en-stopword density vs the is-English label; SQL twin
    _FEATURE_SCORE_SQL."""
    from clinpy_spark.functions.text import (
        LANG_STOPWORDS, stopword_count, token_count,
    )

    docs = _t(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    return docs.select(
        (stopword_count(F.col("text"), LANG_STOPWORDS["en"]).cast("double")
         / token_count(F.col("text"))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )


@q("curate_feature_ap", f"""
WITH base AS ({_FEATURE_SCORE_SQL}),
pv AS (SELECT s, CAST(sum(y) AS BIGINT) AS np,
              CAST(sum(1 - y) AS BIGINT) AS nn
       FROM base GROUP BY s),
c AS (SELECT np,
        CAST(sum(np) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) AS DOUBLE) AS tp,
        CAST(sum(np + nn) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED
          PRECEDING AND CURRENT ROW) AS DOUBLE) AS pred
      FROM pv),
a AS (SELECT sum(CAST(np AS DOUBLE) * tp / pred) AS num,
             CAST(sum(np) AS BIGINT) AS n_pos
      FROM c),
t AS (SELECT CAST(sum(nn) AS BIGINT) AS n_neg FROM pv)
SELECT CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(num / n_pos, 6) END AS ap,
       n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(CAST(n_pos AS DOUBLE) / (n_pos + n_neg), 6)
       END AS baseline
FROM a CROSS JOIN t
""")
def curate_feature_ap_q(spark, sf):
    # Average precision / PR-AUC (operators/classify.py
    # average_precision) of the en-stopword-density feature: the
    # class-imbalance-honest companion of curate_feature_auc (ROC-AUC
    # stays rosy when true negatives dominate; AP does not). Same
    # per-distinct-score grid, cumulative windows over it, one 1-row
    # reduce.
    from clinpy_spark.operators.classify import average_precision

    return average_precision(_feature_score(spark, sf), "s", "y")


@q("curate_brier", f"""
WITH base AS ({_FEATURE_SCORE_SQL}),
rng AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
b AS (SELECT CASE WHEN hi > lo
             THEN LEAST(CAST(floor((s - lo) / (hi - lo) * 10) AS INT), 9)
             ELSE 0 END AS bb, s, y
      FROM base CROSS JOIN rng),
bins AS (SELECT bb, CAST(count(*) AS BIGINT) AS nb, avg(s) AS ms,
                avg(CAST(y AS DOUBLE)) AS fp
         FROM b GROUP BY bb),
o AS (SELECT CAST(count(*) AS BIGINT) AS n,
             avg((s - CAST(y AS DOUBLE)) * (s - CAST(y AS DOUBLE))) AS brier,
             avg(CAST(y AS DOUBLE)) AS p
      FROM base),
g AS (SELECT sum(CAST(nb AS DOUBLE) * abs(fp - ms)) AS gg,
             max(abs(fp - ms)) AS mce
      FROM bins)
SELECT n, round(brier, 6) AS brier,
       round(gg / n, 6) AS ece, round(mce, 6) AS mce,
       round(p * (1 - p), 6) AS baseline_brier
FROM o CROSS JOIN g
""")
def curate_brier_q(spark, sf):
    # Brier score + ECE/MCE calibration summary (operators/classify.py
    # brier_calibration) of the en-stopword-density feature treated as
    # a probability: the VALUE-calibration readout AUC deliberately
    # ignores (AUC is rank-only), with the constant-base-rate Brier as
    # the skill reference. Reliability binning + two 1-row aggregates.
    from clinpy_spark.operators.classify import brier_calibration

    return brier_calibration(_feature_score(spark, sf), "s", "y", n_bins=10)


@q("curate_kfold_auc", f"""
WITH base AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8))
              ::BIGINT % 5 AS INT) AS grp,
         CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
              x -> list_contains({_EN_SW_SQL}, x))) AS DOUBLE)
         / len(string_split_regex(trim(text), '\\s+')) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents WHERE trim(text) <> ''),
pv AS (SELECT grp, s, CAST(sum(y) AS BIGINT) AS np,
              CAST(sum(1 - y) AS BIGINT) AS nn
       FROM base GROUP BY grp, s),
r AS (SELECT grp, np, nn,
        CAST(coalesce(sum(np + nn) OVER (PARTITION BY grp ORDER BY s
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
          AS bef,
        CAST(np + nn AS DOUBLE) AS c
      FROM pv),
a AS (SELECT grp, sum(CAST(np AS DOUBLE) * (bef + (c + 1) / 2)) AS rp,
             CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN np > 0 AND nn > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ties
      FROM r GROUP BY grp)
SELECT grp, CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round((rp - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
                       / (CAST(n_pos AS DOUBLE) * n_neg), 6)
       END AS auc,
       n_pos, n_neg, n_ties
FROM a
""")
def curate_kfold_auc_q(spark, sf):
    # Per-fold feature AUC (operators/sample.py kfold_assign +
    # operators/classify.py roc_auc_by): the cross-validated
    # discrimination readout of the en-stopword-density feature — fold
    # assignment is the auditable md5 coordinate mod 5 (the oracle
    # recomputes identical folds), and the midrank window runs
    # PARTITIONED BY fold over each fold's distinct scores, never a
    # corpus-wide sort.
    from clinpy_spark.operators.classify import roc_auc_by
    from clinpy_spark.operators.sample import kfold_assign
    from clinpy_spark.functions.text import (
        LANG_STOPWORDS, stopword_count, token_count,
    )

    docs = _t(spark, sf, "documents").filter(F.trim(F.col("text")) != "")
    scored = kfold_assign(docs, "doc_id", k=5, seed=42).select(
        "fold",
        (stopword_count(F.col("text"), LANG_STOPWORDS["en"]).cast("double")
         / token_count(F.col("text"))).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    return roc_auc_by(scored, "s", "y", "fold")


@q("curate_feature_auc", f"""
WITH base AS ({_FEATURE_SCORE_SQL}),
pv AS (SELECT s, CAST(sum(y) AS BIGINT) AS np,
              CAST(sum(1 - y) AS BIGINT) AS nn
       FROM base GROUP BY s),
r AS (SELECT np, nn,
        CAST(coalesce(sum(np + nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
          PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS bef,
        CAST(np + nn AS DOUBLE) AS c
      FROM pv),
a AS (SELECT sum(CAST(np AS DOUBLE) * (bef + (c + 1) / 2)) AS rp,
             CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN np > 0 AND nn > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ties
      FROM r)
SELECT CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round((rp - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
                       / (CAST(n_pos AS DOUBLE) * n_neg), 6)
       END AS auc,
       n_pos, n_neg, n_ties
FROM a
""")
def curate_feature_auc_q(spark, sf):
    # EXACT ROC-AUC (operators/classify.py roc_auc): how well does the
    # cheap en-stopword-density feature rank English docs above the
    # rest — the threshold-free scorer evaluation for any gate feature
    # or model in the curation stack. AUC == normalized Mann-Whitney U
    # over the per-distinct-score midrank grid.
    from clinpy_spark.operators.classify import roc_auc

    return roc_auc(_feature_score(spark, sf), "s", "y")


@q("curate_calibration", f"""
WITH base AS ({_FEATURE_SCORE_SQL}),
rng AS (SELECT min(s) AS lo, max(s) AS hi FROM base),
b AS (SELECT CASE WHEN hi > lo
             THEN LEAST(CAST(floor((s - lo) / (hi - lo) * 10) AS INT), 9)
             ELSE 0 END AS bin, s, y
      FROM base CROSS JOIN rng)
SELECT bin, CAST(count(*) AS BIGINT) AS n,
       round(avg(s), 6) AS mean_score,
       round(avg(CAST(y AS DOUBLE)), 6) AS frac_pos
FROM b GROUP BY bin
""")
def curate_calibration_q(spark, sf):
    # Reliability table (operators/classify.py reliability_table): is
    # the stopword-density score CALIBRATED against the is-English
    # label (does the positive fraction climb with the score), the
    # value-level property curate_feature_auc's rank-only readout
    # ignores. Equal-width bins over the observed range.
    from clinpy_spark.operators.classify import reliability_table

    return reliability_table(_feature_score(spark, sf), "s", "y", n_bins=10)




@q("curate_conformal_cut", f"""
WITH base AS ({_FEATURE_SCORE_SQL}),
en AS (SELECT s, substr(md5(CAST(row_number() OVER (ORDER BY s, y) AS VARCHAR)
         || ':77'), 1, 8) AS h
       FROM base WHERE y = 1),
cal AS (SELECT s FROM en WHERE h < '80000000'),
ev AS (SELECT s FROM en WHERE h >= '80000000'),
cut AS (SELECT quantile_cont(s, 0.1) AS cut,
               CAST(count(*) AS BIGINT) AS n_cal
        FROM cal)
SELECT round(cut, 6) AS cut, n_cal,
       CAST(count(*) AS BIGINT) AS n_eval,
       round(CAST(sum(CASE WHEN s >= cut THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS coverage
FROM ev CROSS JOIN cut
GROUP BY cut, n_cal
""")
def curate_conformal_cut_q(spark, sf):
    # Split-conformal acceptance cut (operators pattern: exact
    # percentile on a hash-held-out calibration split, coverage
    # measured on the rest): the distribution-free "90% of in-domain
    # docs score above this" gate a curation pipeline wants instead of
    # an arbitrary threshold. The calibration/eval split is the
    # deterministic md5 coordinate (membership auditable by the
    # oracle), keyed on a rank so the split is data-derived and stable.
    ranked = _feature_score(spark, sf).filter(F.col("y") == 1)
    w = Window.orderBy("s", "y")
    h = F.substring(
        F.md5(F.concat(F.row_number().over(w).cast("string"),
                       F.lit(":77"))), 1, 8)
    en = ranked.select("s", h.alias("h"))
    cal = en.filter(F.col("h") < "80000000")
    ev = en.filter(F.col("h") >= "80000000")
    cut = cal.agg(
        F.expr("percentile(s, 0.1)").alias("cut"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    j = ev.crossJoin(F.broadcast(cut))
    return j.groupBy("cut", "n_cal").agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.round(
            F.sum(F.when(F.col("s") >= F.col("cut"), 1).otherwise(0))
            .cast("double") / F.count(F.lit(1)), 6).alias("coverage"),
    ).select(
        F.round("cut", 6).alias("cut"), "n_cal", "n_eval", "coverage")


@q("q_trimmed_mean", """
WITH g AS (SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders),
qq AS (SELECT grp, quantile_cont(v, 0.1) AS q10, quantile_cont(v, 0.9) AS q90
       FROM g GROUP BY grp)
SELECT g.grp AS o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(CASE WHEN v >= q10 AND v <= q90 THEN v END), 6)
         AS trimmed_mean,
       round(avg(CASE WHEN v < q10 THEN q10
                      WHEN v > q90 THEN q90 ELSE v END), 6)
         AS winsorized_mean,
       round(avg(v), 6) AS plain_mean
FROM g JOIN qq ON g.grp = qq.grp
GROUP BY g.grp
""")
def q_trimmed_mean_q(spark, sf):
    # 10% trimmed and winsorized means per priority: the robust
    # location family next to q_mad_outliers' robust scale — what the
    # mean SHOULD read once the tails stop lying. Exact interpolated
    # percentile bounds broadcast back, one conditional aggregate.
    o = _t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"))
    qq = o.groupBy("grp").agg(
        F.expr("percentile(v, 0.1)").alias("q10"),
        F.expr("percentile(v, 0.9)").alias("q90"),
    )
    j = o.join(F.broadcast(qq), "grp")
    return j.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.avg(F.when((F.col("v") >= F.col("q10"))
                         & (F.col("v") <= F.col("q90")), F.col("v"))),
            6).alias("trimmed_mean"),
        F.round(
            F.avg(F.when(F.col("v") < F.col("q10"), F.col("q10"))
                  .when(F.col("v") > F.col("q90"), F.col("q90"))
                  .otherwise(F.col("v"))), 6).alias("winsorized_mean"),
        F.round(F.avg("v"), 6).alias("plain_mean"),
    ).withColumnRenamed("grp", "o_orderpriority")




@q("gx_fisher_scan", f"""
WITH g AS ({_GRID_GENO_SQL}),
dd AS (SELECT variant, CASE WHEN gt > 0 THEN 1 ELSE 0 END AS e,
              CASE WHEN is_case THEN 1 ELSE 0 END AS y
       FROM g WHERE variant % 10 < 2),
cnt AS (SELECT variant,
   CAST(sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
   CAST(sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
   CAST(sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
   CAST(sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0
  FROM dd GROUP BY variant),
supp AS (SELECT variant, a, b, c, d0, a + b AS r1, c + d0 AS r2,
                a + c AS c1,
                unnest(generate_series(GREATEST(0, a + c - (c + d0)),
                                       LEAST(a + b, a + c))) AS k
         FROM cnt),
lw AS (SELECT *,
         sum(CASE WHEN k = GREATEST(0, c1 - r2) THEN 0.0
             ELSE ln((r1 - CAST(k AS DOUBLE) + 1)
                     * (c1 - CAST(k AS DOUBLE) + 1))
                  - ln(CAST(k AS DOUBLE) * (r2 - c1 + CAST(k AS DOUBLE)))
             END)
           OVER (PARTITION BY variant ORDER BY k
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnu
       FROM supp),
lw2 AS (SELECT *,
          exp(lnu - max(lnu) OVER (PARTITION BY variant)) AS u,
          max(CASE WHEN k = a THEN lnu END)
            OVER (PARTITION BY variant) AS lnu_obs
        FROM lw)
SELECT variant, max(a) AS a, max(b) AS b, max(c) AS c, max(d0) AS d,
       max(a) + max(b) + max(c) + max(d0) AS n,
       round(LEAST(
         sum(CASE WHEN lnu <= lnu_obs + 0.0000001 THEN u ELSE 0 END)
         / sum(u), 1.0), 9) AS p_two_sided
FROM lw2 GROUP BY variant
""")
def gx_fisher_scan_q(spark, sf):
    # Per-variant Fisher exact association scan (operators/assoc.py
    # fisher_exact_scan) over the RARE variant bands (2%/7% allele
    # frequency — exactly where the chi-square family's expectations
    # collapse): the GWAS-shaped many-tables form of dx_fisher_exact,
    # support explode + windows PARTITIONED BY VARIANT, no per-variant
    # driver loop.
    from clinpy_spark.operators.assoc import fisher_exact_scan

    g = _grid_geno(spark, sf).filter(F.col("variant") % 10 < 2)
    counts = g.groupBy("variant").agg(
        F.sum(F.when((F.col("gt") > 0) & F.col("is_case"), 1).otherwise(0))
        .alias("a"),
        F.sum(F.when((F.col("gt") > 0) & ~F.col("is_case"), 1).otherwise(0))
        .alias("b"),
        F.sum(F.when((F.col("gt") == 0) & F.col("is_case"), 1).otherwise(0))
        .alias("c"),
        F.sum(F.when((F.col("gt") == 0) & ~F.col("is_case"), 1)
              .otherwise(0)).alias("d"),
    )
    return fisher_exact_scan(counts, "variant")


@q("e_runs_test", """
WITH d AS (SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS p,
                  CAST(count(*) AS DOUBLE) AS x
           FROM events GROUP BY 1),
m AS (SELECT quantile_cont(x, 0.5) AS med FROM d),
s AS (SELECT p, CASE WHEN x > med THEN 1 ELSE 0 END AS sg
      FROM d CROSS JOIN m WHERE x <> med),
r AS (SELECT sg, CASE WHEN lag(sg) OVER (ORDER BY p) IS NULL
                        OR lag(sg) OVER (ORDER BY p) <> sg
                 THEN 1 ELSE 0 END AS nw
      FROM s),
a AS (SELECT CAST(sum(sg) AS BIGINT) AS n_above,
             CAST(sum(1 - sg) AS BIGINT) AS n_below,
             CAST(sum(nw) AS BIGINT) AS n_runs
      FROM r)
SELECT n_above, n_below, n_runs,
  CASE WHEN n_above > 0 AND n_below > 0
        AND (2.0 * n_above * n_below
             * (2.0 * n_above * n_below - (n_above + n_below)))
            / ((CAST(n_above + n_below AS DOUBLE)) * (n_above + n_below)
               * ((n_above + n_below) - 1)) > 0
       THEN round(1 + 2.0 * n_above * n_below / (n_above + n_below), 6)
  END AS expected_runs,
  CASE WHEN n_above > 0 AND n_below > 0
        AND (2.0 * n_above * n_below
             * (2.0 * n_above * n_below - (n_above + n_below)))
            / ((CAST(n_above + n_below AS DOUBLE)) * (n_above + n_below)
               * ((n_above + n_below) - 1)) > 0
       THEN round((n_runs - (1 + 2.0 * n_above * n_below
                             / (n_above + n_below)))
            / sqrt((2.0 * n_above * n_below
                    * (2.0 * n_above * n_below - (n_above + n_below)))
                   / ((CAST(n_above + n_below AS DOUBLE))
                      * (n_above + n_below)
                      * ((n_above + n_below) - 1))), 6)
  END AS z
FROM a
""")
def e_runs_test_q(spark, sf):
    # Wald-Wolfowitz runs test on the daily event volume
    # (operators/assoc.py runs_test): is there ANY serial structure
    # (clumping of above/below-median days), the existence question
    # before e_cusum_shift's where-did-it-shift.
    from clinpy_spark.operators.assoc import runs_test

    ev = _t(spark, sf, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"),
                   F.lit("1970-01-01").cast("date")).alias("p")
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    return runs_test(daily, "p", "x")


@q("dx_sign_test", """
WITH pu AS (SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'purchase'
              AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT)
      AS bef,
    CAST(sum(CASE WHEN event_type = 'purchase'
              AND ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT)
      AS aft
  FROM events GROUP BY user_id),
cnt AS (SELECT
   CAST(sum(CASE WHEN aft > bef THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
   CAST(sum(CASE WHEN aft < bef THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
   CAST(sum(CASE WHEN aft = bef THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
  FROM pu),
supp AS (SELECT *, n_pos + n_neg AS n,
                unnest(generate_series(0, n_pos + n_neg)) AS k
         FROM cnt),
lw AS (SELECT *,
         sum(CASE WHEN k = 0 THEN 0.0
             ELSE ln(CAST(n AS DOUBLE) - k + 1) - ln(CAST(k AS DOUBLE)) END)
           OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS lnu
       FROM supp),
lw2 AS (SELECT *, exp(lnu - max(lnu) OVER ()) AS u,
               max(CASE WHEN k = n_pos THEN lnu END) OVER () AS lnu_obs
        FROM lw)
SELECT max(n_pos) AS n_pos, max(n_neg) AS n_neg, max(n_ties) AS n_ties,
       round(LEAST(
         sum(CASE WHEN lnu <= lnu_obs + 0.0000001 THEN u ELSE 0 END)
         / sum(u), 1.0), 9) AS p_exact
FROM lw2
""")
def dx_sign_test_q(spark, sf):
    # Exact paired sign test (operators/assoc.py sign_test): did
    # per-user purchase COUNTS move between the two January halves —
    # the binomial(n, 1/2) tail computed exactly by the ratio-prefix
    # machinery (no normal approximation), the magnitude-free sibling
    # of dx_mcnemar's flag flips.
    from clinpy_spark.operators.assoc import sign_test

    ev = _t(spark, sf, "events")
    pur = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(pur & (F.col("ts") < "2024-01-16"), 1).otherwise(0))
        .alias("bef"),
        F.sum(F.when(pur & (F.col("ts") >= "2024-01-16"), 1).otherwise(0))
        .alias("aft"),
    )
    return sign_test(per_user, "bef", "aft")




@q("gx_ld_decay", f"""
WITH g AS ({_GRID_GENO_SQL}),
st AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(gt) AS BIGINT) AS sx,
              CAST(sum(gt * gt) AS BIGINT) AS sxx
       FROM g GROUP BY variant),
vm AS (SELECT DISTINCT variant, chrom, pos FROM g),
cand AS (SELECT a.variant AS vx, b.variant AS vy, b.pos - a.pos AS dist
         FROM vm a JOIN vm b
           ON a.chrom = b.chrom AND a.variant < b.variant
          AND abs(a.pos - b.pos) <= 10),
cr AS (SELECT c.vx, c.vy, c.dist, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(g1.gt * g2.gt) AS BIGINT) AS sxy
       FROM cand c
       JOIN g g1 ON g1.variant = c.vx
       JOIN g g2 ON g2.variant = c.vy AND g2.c_custkey = g1.c_custkey
       GROUP BY c.vx, c.vy, c.dist),
r2 AS (SELECT dist,
         CASE WHEN (CAST(cr.n AS DOUBLE) * s1.sxx - s1.sx * s1.sx) = 0
                OR (CAST(cr.n AS DOUBLE) * s2.sxx - s2.sx * s2.sx) = 0
              THEN 0.0
              ELSE round(
                (CAST(cr.n AS DOUBLE) * cr.sxy - s1.sx * s2.sx)
                * (CAST(cr.n AS DOUBLE) * cr.sxy - s1.sx * s2.sx)
                / ((CAST(cr.n AS DOUBLE) * s1.sxx - s1.sx * s1.sx)
                   * (CAST(cr.n AS DOUBLE) * s2.sxx - s2.sx * s2.sx)), 6)
         END AS r2
       FROM cr JOIN st s1 ON s1.variant = cr.vx
       JOIN st s2 ON s2.variant = cr.vy)
SELECT CAST(dist AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(r2), 6) AS mean_r2
FROM r2 GROUP BY dist
""")
def gx_ld_decay_q(spark, sf):
    # LD decay curve (composition of operators/assoc.py ld_r2): mean
    # pairwise r^2 per base-distance bin — the population-genetics
    # summary (how fast does linkage die with distance) drawn from the
    # same banded pair machinery as gx_ld_r2, widened to 10 positions.
    from clinpy_spark.operators.assoc import ld_r2

    g = _grid_geno(spark, sf)
    pairs = ld_r2(g, "variant", "c_custkey", "gt", "chrom", "pos",
                  max_dist=10)
    # pos == variant in the grid, so distance = vy - vx
    return pairs.groupBy((F.col("vy") - F.col("vx")).alias("dist")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("r2"), 6).alias("mean_r2"),
    )


@q("dx_permutation_test", """
WITH pu AS (SELECT user_id,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS y
  FROM events GROUP BY user_id),
obs AS (SELECT sum(CASE WHEN user_id % 2 = 1 THEN CAST(y AS DOUBLE) END)
               / sum(CASE WHEN user_id % 2 = 1 THEN 1 END)
             - sum(CASE WHEN user_id % 2 = 0 THEN CAST(y AS DOUBLE) END)
               / sum(CASE WHEN user_id % 2 = 0 THEN 1 END) AS d_obs
        FROM pu),
perm AS (SELECT b, user_id, y,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':'
                               || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 2
             AS arm
         FROM pu CROSS JOIN (SELECT unnest(generate_series(0, 199)) AS b)),
pd AS (SELECT b,
         sum(CASE WHEN arm = 1 THEN CAST(y AS DOUBLE) END)
           / sum(CASE WHEN arm = 1 THEN 1 END)
         - sum(CASE WHEN arm = 0 THEN CAST(y AS DOUBLE) END)
           / sum(CASE WHEN arm = 0 THEN 1 END) AS d
       FROM perm GROUP BY b)
SELECT round(max(d_obs), 6) AS obs_diff,
       CAST(count(*) AS BIGINT) AS n_perm,
       CAST(sum(CASE WHEN abs(d) >= abs(d_obs) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ge,
       round((1.0 + sum(CASE WHEN abs(d) >= abs(d_obs) THEN 1 ELSE 0 END))
             / (count(*) + 1), 6) AS p_perm
FROM pd CROSS JOIN obs
""")
def dx_permutation_test_q(spark, sf):
    # Deterministic permutation test: is the even/odd-user split's
    # purchase-rate difference explainable by chance? 200 md5-derived
    # re-randomizations (the same hash-decision machinery as the
    # mixture/split samplers, so the oracle replays every permutation
    # EXACTLY) — randomization inference with zero RNG state, the
    # distribution-free cousin of dx_mannwhitney. Each permutation is
    # one conditional-sum aggregate over a 200x exploded bounded
    # per-user table; the corpus is scanned once into it.
    ev = _t(spark, sf, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .alias("y"))
    obs = pu.agg(
        (F.sum(F.when(F.col("user_id") % 2 == 1, F.col("y").cast("double")))
         / F.sum(F.when(F.col("user_id") % 2 == 1, 1))
         - F.sum(F.when(F.col("user_id") % 2 == 0, F.col("y").cast("double")))
         / F.sum(F.when(F.col("user_id") % 2 == 0, 1))).alias("d_obs"))
    b = F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b")
    arm = F.conv(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":"),
                           F.col("b").cast("string"))), 1, 8),
        16, 10).cast("long") % 2
    perm = pu.select("user_id", "y", b).withColumn("arm", arm)
    pd_ = perm.groupBy("b").agg(
        (F.sum(F.when(F.col("arm") == 1, F.col("y").cast("double")))
         / F.sum(F.when(F.col("arm") == 1, 1))
         - F.sum(F.when(F.col("arm") == 0, F.col("y").cast("double")))
         / F.sum(F.when(F.col("arm") == 0, 1))).alias("d"))
    j = pd_.crossJoin(F.broadcast(obs))
    ge = F.sum(
        F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1).otherwise(0))
    return j.agg(
        F.round(F.max("d_obs"), 6).alias("obs_diff"),
        F.count(F.lit(1)).alias("n_perm"),
        ge.alias("n_ge"),
        F.round((1.0 + ge) / (F.count(F.lit(1)) + 1), 6).alias("p_perm"),
    )




@q("gx_prs_auc", f"""
WITH g AS ({_GRID_GENO_SQL}),
w AS (SELECT DISTINCT variant,
             ((('0x' || substr(md5('w' || CAST(variant AS VARCHAR)), 1, 8))::BIGINT
               % 2001) - 1000) / 1000.0 AS wt
      FROM g),
prs AS (SELECT c_custkey, round(sum(gt * wt), 6) AS s,
               CAST(max(CASE WHEN is_case THEN 1 ELSE 0 END) AS INT) AS y
        FROM g JOIN w USING (variant)
        GROUP BY c_custkey),
pv AS (SELECT s, CAST(sum(y) AS BIGINT) AS np,
              CAST(sum(1 - y) AS BIGINT) AS nn
       FROM prs GROUP BY s),
r AS (SELECT np, nn,
        CAST(coalesce(sum(np + nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
          PRECEDING AND 1 PRECEDING), 0) AS DOUBLE) AS bef,
        CAST(np + nn AS DOUBLE) AS c
      FROM pv),
a AS (SELECT sum(CAST(np AS DOUBLE) * (bef + (c + 1) / 2)) AS rp,
             CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN np > 0 AND nn > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ties
      FROM r)
SELECT CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round((rp - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
                       / (CAST(n_pos AS DOUBLE) * n_neg), 6)
       END AS auc,
       n_pos, n_neg, n_ties
FROM a
""")
def gx_prs_auc_q(spark, sf):
    # Polygenic-score discrimination (gx_prs's scores fed to
    # operators/classify.py roc_auc): does the PRS rank cases above
    # controls — THE standard clinical evaluation of a risk score,
    # composing the genetics and model-eval families. Scores rounded
    # to the PRS contract's 6 dp before ranking so both engines rank
    # identical values.
    from clinpy_spark.operators.assoc import polygenic_score
    from clinpy_spark.operators.classify import roc_auc

    g = _grid_geno(spark, sf)
    wt = (
        (F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w"), F.col("variant").cast("string"))),
                1, 8),
            16, 10).cast("long") % 2001 - 1000) / 1000.0
    )
    # weights from the variant axis directly and the phenotype from
    # the customer table directly: the previous legs re-executed the
    # whole x200 md5 grid expansion once for distinct(variant) (= the
    # range values) and once for max(is_case) per customer (= the
    # per-customer constant md5(c_custkey) % 2 the grid stamps on all
    # 200 copies). Values bit-identical — same hash expressions over
    # the same domains; prs comes from the one remaining grid pass.
    weights = spark.range(200).select(
        F.col("id").alias("variant"), wt.alias("wt"))
    prs = polygenic_score(
        g, weights, "c_custkey", "variant", "gt", "wt")
    hc = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    pheno = _t(spark, sf, "customer").select(
        "c_custkey", (hc % 2 == 1).cast("int").alias("y"))
    j = prs.join(pheno, "c_custkey").select(
        F.col("prs").alias("s"), "y")
    return roc_auc(j, "s", "y")


@q("e_dispersion", """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
                  CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY user_id, CAST(ts AS DATE)),
m AS (SELECT user_id,
             CAST(date_diff('day', min(day), max(day)) + 1 AS BIGINT)
               AS n_days,
             CAST(count(*) AS BIGINT) AS n_active_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx
      FROM d GROUP BY user_id)
SELECT user_id, n_days, n_active_days,
       round(CAST(sx AS DOUBLE) / n_days, 6) AS mean_daily,
       CASE WHEN n_days > 1 AND sx > 0
            THEN round(((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx
                         / n_days) / (n_days - 1))
                       / (CAST(sx AS DOUBLE) / n_days), 6)
       END AS fano
FROM m
""")
def e_dispersion_q(spark, sf):
    # Per-user burstiness (Fano factor = daily-count variance over
    # mean): fano >> 1 = bursty sessions, ~1 = Poisson-like, < 1 =
    # metronomic (bots) — the dispersion profile behind e_gaps_islands'
    # streak view. The series is DENSIFIED over each user's min..max
    # day span (r11 advice: conditioning on active days biased the
    # dispersion vs the fixed-window Fano the bots-vs-bursts reading
    # assumes) — zero days contribute nothing to sum(x)/sum(x^2), so
    # densification is pure arithmetic on the span length: no row
    # generation, still one per-(user, day) and one per-user aggregate.
    ev = _t(spark, sf, "events")
    d = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("x"))
    m = d.groupBy("user_id").agg(
        (F.datediff(F.max("day"), F.min("day")) + 1).cast("long")
        .alias("n_days"),
        F.count(F.lit(1)).alias("n_active_days"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n_days").cast("double")
    sx = F.col("sx").cast("double")
    var = (F.col("sxx").cast("double") - sx * sx / nd) / (nd - 1)
    mean = sx / nd
    return m.select(
        "user_id", "n_days", "n_active_days",
        F.round(mean, 6).alias("mean_daily"),
        F.when((F.col("n_days") > 1) & (F.col("sx") > 0),
               F.round(var / mean, 6)).alias("fano"),
    )


@q("q_entropy", """
WITH c AS (SELECT c_nationkey % 5 AS band, o_orderpriority AS cat,
                  CAST(count(*) AS BIGINT) AS n
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
t AS (SELECT band, CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS k
      FROM c GROUP BY band)
SELECT c.band, t.k AS n_categories, t.tot AS n,
       round(sum(-(CAST(c.n AS DOUBLE) / t.tot)
                 * ln(CAST(c.n AS DOUBLE) / t.tot)), 6) AS entropy,
       CASE WHEN t.k > 1
            THEN round(sum(-(CAST(c.n AS DOUBLE) / t.tot)
                           * ln(CAST(c.n AS DOUBLE) / t.tot))
                       / ln(CAST(t.k AS DOUBLE)), 6)
       END AS normalized
FROM c JOIN t USING (band)
GROUP BY c.band, t.k, t.tot
""")
def q_entropy_q(spark, sf):
    # Shannon entropy of the priority mix per nation band: the
    # category-balance profile (normalized to [0,1] by ln k) a
    # mixture-sampling pipeline checks before and after resampling —
    # the information-theoretic sibling of drift_chi2's deviation
    # test. Exact category counts; one grouped sum of -p ln p.
    cust = _t(spark, sf, "customer").select(
        "c_custkey", (F.col("c_nationkey") % 5).alias("band"))
    o = _t(spark, sf, "orders").join(
        cust, F.col("o_custkey") == F.col("c_custkey"))
    c = o.groupBy("band", F.col("o_orderpriority").alias("cat")).agg(
        F.count(F.lit(1)).alias("n"))
    t = c.groupBy("band").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("k"))
    j = c.join(t, "band")
    p = F.col("n").cast("double") / F.col("tot")
    return j.groupBy(
        "band", F.col("k").alias("n_categories"), F.col("tot").alias("n")
    ).agg(
        F.round(F.sum(-p * F.log(p)), 6).alias("entropy"),
        F.when(
            F.col("n_categories") > 1,
            F.round(
                F.sum(-p * F.log(p))
                / F.log(F.col("n_categories").cast("double")), 6),
        ).alias("normalized"),
    )


@q("surv_cindex", """
WITH obs AS MATERIALIZED (
  SELECT LEAST(h % 1500 + 1, dd) AS t,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS e,
         19 - LEAST(GREATEST(h % 1500 + 1 + (h2 % 601) - 300, 1) // 80, 19)
           AS s
  FROM (SELECT
          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
            AS h,
          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))::BIGINT
            AS h2,
          datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders)),
cells AS MATERIALIZED (
  SELECT t, s, CAST(count(*) AS BIGINT) AS n, CAST(sum(e) AS BIGINT) AS d
  FROM obs GROUP BY 1, 2),
bands AS (SELECT s, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY s),
dense AS (SELECT a.t, b.s, b.tot
          FROM (SELECT DISTINCT t FROM cells) a CROSS JOIN bands b),
dj AS (SELECT dense.t, dense.s, dense.tot,
              coalesce(c.n, 0) AS n, coalesce(c.d, 0) AS d
       FROM dense LEFT JOIN cells c ON dense.t = c.t AND dense.s = c.s),
pre AS (SELECT *, coalesce(sum(n) OVER (PARTITION BY s ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
        FROM dj),
el AS (SELECT t, s, d, tot - nb - d AS elig FROM pre),
w AS (SELECT *, coalesce(sum(elig) OVER (PARTITION BY t ORDER BY s
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ca,
        sum(elig) OVER (PARTITION BY t) AS ta FROM el),
agg AS (SELECT CAST(sum(d * ca) AS BIGINT) AS conc,
               CAST(sum(d * elig) AS BIGINT) AS tied,
               CAST(sum(d * ta) AS BIGINT) AS comp
        FROM w WHERE d > 0),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(e) AS BIGINT) AS d_all FROM obs)
SELECT n_all AS n, d_all AS n_events,
       coalesce(comp, 0) AS comparable,
       coalesce(conc, 0) AS concordant,
       coalesce(comp, 0) - coalesce(conc, 0) - coalesce(tied, 0)
         AS discordant,
       coalesce(tied, 0) AS tied_score,
       CASE WHEN comp > 0 THEN
         round((conc + CAST(tied AS DOUBLE) / 2) / comp, 6) + 0.0
       END AS c_index,
       CASE WHEN comp > 0 THEN
         round(2 * ((conc + CAST(tied AS DOUBLE) / 2) / comp) - 1, 6) + 0.0
       END AS somers_d
FROM tot CROSS JOIN agg
""")
def surv_cindex_q(spark, sf):
    # Harrell's C (operators/survival.py cindex) for a 20-band risk
    # score against the deterministic order-survival cohort: the
    # discrimination readout for the whole fitted-risk family. NO
    # pairwise join — dominance counting over the dense (time x band)
    # grid with one exclusive prefix window per axis; exact integers
    # to the two final ratios (hash-deterministic).
    from clinpy_spark.operators.survival import cindex

    o = _t(spark, sf, "orders")
    md = F.md5(F.col("o_orderkey").cast("string"))
    h = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    raw = followup + (h2 % 601) - 300
    score = F.lit(19) - F.least(
        F.floor(F.greatest(raw, F.lit(1)) / 80).cast("long"), F.lit(19))
    obs = o.select(
        F.least(followup, dd).alias("t"),
        F.when(followup <= dd, 1).otherwise(0).alias("e"),
        score.alias("s"))
    return cindex(obs, "t", "e", "s")


@q("dx_jonckheere", """
WITH cells AS MATERIALIZED (
  SELECT CAST(l_linenumber AS BIGINT) AS g,
         CAST(l_quantity AS DOUBLE) AS v,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2),
dense AS (SELECT a.v, b.g FROM (SELECT DISTINCT v FROM cells) a
          CROSS JOIN (SELECT DISTINCT g FROM cells) b),
dj AS (SELECT dense.g, dense.v, coalesce(c.n, 0) AS n
       FROM dense LEFT JOIN cells c ON dense.g = c.g AND dense.v = c.v),
p1 AS (SELECT *, coalesce(sum(n) OVER (PARTITION BY g ORDER BY v
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pv
       FROM dj),
p2 AS (SELECT *, coalesce(sum(pv) OVER (PARTITION BY v ORDER BY g
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        coalesce(sum(n) OVER (PARTITION BY v ORDER BY g
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tiev
       FROM p1),
j2 AS (SELECT CAST(sum(n * (2 * below + tiev)) AS BIGINT) AS j2 FROM p2),
gsz AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(m) AS BIGINT) AS nn,
               CAST(sum(m * m) AS BIGINT) AS sq,
               CAST(sum(m * (m - 1) * (2 * m + 5)) AS BIGINT) AS fg,
               CAST(sum(m * (m - 1) * (m - 2)) AS BIGINT) AS gg,
               CAST(sum(m * (m - 1)) AS BIGINT) AS pg
        FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM cells GROUP BY g)),
vsz AS (SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS fv,
               CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS gv,
               CAST(sum(t * (t - 1)) AS BIGINT) AS pv2
        FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM cells GROUP BY v))
SELECT nn AS n, k,
  round(CAST(j2 AS DOUBLE) / 2, 6) + 0.0 AS j_stat,
  round((CAST(nn AS DOUBLE) * nn - sq) / 4, 6) + 0.0 AS e_j,
  round((CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5) - fg - fv) / 72
        + CAST(gg AS DOUBLE) * gv
          / (36 * CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2))
        + CAST(pg AS DOUBLE) * pv2 / (8 * CAST(nn AS DOUBLE) * (nn - 1)),
        6) + 0.0 AS var_j,
  CASE WHEN (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5) - fg - fv) / 72
            + CAST(gg AS DOUBLE) * gv
              / (36 * CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2))
            + CAST(pg AS DOUBLE) * pv2
              / (8 * CAST(nn AS DOUBLE) * (nn - 1)) > 0
       THEN round((CAST(j2 AS DOUBLE) / 2
                   - (CAST(nn AS DOUBLE) * nn - sq) / 4)
                  / sqrt((CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5)
                          - fg - fv) / 72
                         + CAST(gg AS DOUBLE) * gv
                           / (36 * CAST(nn AS DOUBLE) * (nn - 1)
                              * (nn - 2))
                         + CAST(pg AS DOUBLE) * pv2
                           / (8 * CAST(nn AS DOUBLE) * (nn - 1))),
                  6) + 0.0
  END AS z
FROM gsz CROSS JOIN vsz CROSS JOIN j2
""")
def dx_jonckheere_q(spark, sf):
    # Jonckheere-Terpstra ordered trend (operators/assoc.py
    # jonckheere_terpstra): does quantity trend monotonically across
    # ordered line numbers — the trend-aware successor to dx_kruskal.
    # NO pairwise join: dense (group x value) grid + two exclusive
    # prefix windows; doubled-unit integers end to end, ties-corrected
    # Hollander-Wolfe null variance.
    from clinpy_spark.operators.assoc import jonckheere_terpstra

    li = _t(spark, sf, "lineitem").select(
        F.col("l_linenumber").alias("g"),
        F.col("l_quantity").alias("v"))
    return jonckheere_terpstra(li, "g", "v")


@q("dx_somers_d", """
WITH g AS MATERIALIZED (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS DOUBLE)
           AS y,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2),
cd AS (SELECT
    CAST(sum(CASE WHEN b.y > a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
      AS c_pairs,
    CAST(sum(CASE WHEN b.y < a.y THEN a.n * b.n ELSE 0 END) AS BIGINT)
      AS d_pairs
  FROM g a JOIN g b ON a.x < b.x),
tx AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS t2x,
              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vtx,
              CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS t3x
       FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY x)),
ty AS (SELECT CAST(sum(t * (t - 1)) AS BIGINT) AS t2y,
              CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS vty,
              CAST(sum(t * (t - 1) * (t - 2)) AS BIGINT) AS t3y
       FROM (SELECT CAST(sum(n) AS BIGINT) AS t FROM g GROUP BY y)),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM g)
SELECT n, c_pairs AS concordant, d_pairs AS discordant,
       CASE WHEN CAST(n AS DOUBLE) * (n - 1) / 2
                 - CAST(t2x AS DOUBLE) / 2 > 0
            THEN round(CAST(c_pairs - d_pairs AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n - 1) / 2
                          - CAST(t2x AS DOUBLE) / 2), 6) + 0.0
       END AS d_yx,
       CASE WHEN CAST(n AS DOUBLE) * (n - 1) / 2
                 - CAST(t2y AS DOUBLE) / 2 > 0
            THEN round(CAST(c_pairs - d_pairs AS DOUBLE)
                       / (CAST(n AS DOUBLE) * (n - 1) / 2
                          - CAST(t2y AS DOUBLE) / 2), 6) + 0.0
       END AS d_xy,
       CASE WHEN (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - vtx - vty)
                 / 18
                 + CAST(t2x AS DOUBLE) * t2y
                   / (2 * CAST(n AS DOUBLE) * (n - 1))
                 + CAST(t3x AS DOUBLE) * t3y
                   / (9 * CAST(n AS DOUBLE) * (n - 1) * (n - 2)) > 0
            THEN round(CAST(c_pairs - d_pairs AS DOUBLE)
                       / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                               - vtx - vty) / 18
                              + CAST(t2x AS DOUBLE) * t2y
                                / (2 * CAST(n AS DOUBLE) * (n - 1))
                              + CAST(t3x AS DOUBLE) * t3y
                                / (9 * CAST(n AS DOUBLE) * (n - 1)
                                   * (n - 2))), 6) + 0.0
       END AS z
FROM cd CROSS JOIN tx CROSS JOIN ty CROSS JOIN tot
""")
def dx_somers_d_q(spark, sf):
    # Somers' D (operators/assoc.py somers_d): quantity as predictor of
    # the binary returned flag — the asymmetric companion to
    # dx_kendall_tau off the SAME shared pair-grid machinery; for the
    # binary outcome d_xy is the Gini, auc = (d_xy + 1) / 2
    # (property-tested against classify.roc_auc).
    from clinpy_spark.operators.assoc import somers_d

    li = _t(spark, sf, "lineitem").select(
        F.col("l_quantity").alias("x"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"))
    return somers_d(li, "x", "y")


@q("curate_gains_curve", """
WITH base AS MATERIALIZED (
  SELECT CAST(floor(CAST(c_acctbal AS DOUBLE) / 500) AS DOUBLE) AS score,
         CASE WHEN ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                   ::BIGINT % 100
                   < 15 + 3 * GREATEST(CAST(floor(
                       CAST(c_acctbal AS DOUBLE) / 500) AS BIGINT), 0)
              THEN 1 ELSE 0 END AS y
  FROM customer),
per AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS positives
        FROM base GROUP BY 1),
g AS (SELECT *,
        sum(n) OVER (ORDER BY score DESC) AS cum_n,
        sum(positives) OVER (ORDER BY score DESC) AS cum_pos,
        sum(n) OVER () AS nn, sum(positives) OVER () AS pp
      FROM per)
SELECT score, n, positives,
       CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
       round(CAST(cum_n AS DOUBLE) / nn, 6) AS depth,
       CASE WHEN pp > 0
            THEN round(CAST(cum_pos AS DOUBLE) / pp, 6) END AS gain,
       CASE WHEN pp > 0
            THEN round((CAST(cum_pos AS DOUBLE) / pp)
                       / (CAST(cum_n AS DOUBLE) / nn), 6) + 0.0
       END AS lift,
       CASE WHEN pp > 0 AND pp < nn
            THEN round(CAST(cum_pos AS DOUBLE) / pp
                       - CAST(cum_n - cum_pos AS DOUBLE) / (nn - pp), 6)
                 + 0.0
       END AS ks
FROM g
""")
def curate_gains_curve_q(spark, sf):
    # Cumulative gains / lift / KS (operators/classify.py gains_table)
    # for a banded account-balance score against a deterministic
    # band-graded conversion label: threshold-resolved on the bounded
    # distinct-score grid (tie-unambiguous, no global ntile sort),
    # one groupBy + one ordered window, exact integers to the ratios.
    from clinpy_spark.operators.classify import gains_table

    c = _t(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal").cast("double") / 500)
    h = F.conv(
        F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    base = c.select(
        band.cast("double").alias("s"),
        F.when(h % 100 < 15 + 3 * F.greatest(band.cast("long"), F.lit(0)),
               1).otherwise(0).alias("y"))
    return gains_table(base, "s", "y")


@q("epi_direct_std", """
WITH obs AS MATERIALIZED (
  SELECT priority, stratum, duration, evt FROM (
    SELECT o_orderpriority AS priority,
           CAST(year(o_orderdate) AS BIGINT) AS stratum,
           LEAST(h % 1500 + 1, dd) AS duration,
           CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt
    FROM (SELECT o_orderpriority, o_orderdate,
                 ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                   ::BIGINT AS h,
                 datediff('day', o_orderdate, DATE '1998-08-02') AS dd
          FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '5-LOW')))),
cells AS MATERIALIZED (
  SELECT priority AS g, stratum AS s, CAST(sum(evt) AS BIGINT) AS d,
         CAST(sum(duration) AS DOUBLE) AS pt
  FROM obs GROUP BY 1, 2),
std AS (SELECT s, sum(pt) AS w FROM cells GROUP BY s),
j AS (SELECT c.g, c.s, c.d, c.pt, std.w FROM cells c JOIN std ON c.s = std.s),
per_g AS (SELECT g,
    CAST(sum(d) AS BIGINT) AS events,
    sum(pt) AS ptime,
    sum(CASE WHEN pt > 0 THEN w END) AS wsum,
    sum(CASE WHEN pt > 0 THEN w * d / pt END) AS wr,
    sum(CASE WHEN pt > 0 THEN w * w * d / (pt * pt) END) AS wv,
    CAST(sum(CASE WHEN pt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS strata_used
  FROM j GROUP BY g)
SELECT g AS "group", events, round(ptime, 6) AS ptime,
       CASE WHEN ptime > 0
            THEN round(events / ptime, 6) + 0.0 END AS crude_rate,
       CASE WHEN wsum > 0
            THEN round(wr / wsum, 6) + 0.0 END AS adj_rate,
       CASE WHEN wsum > 0
            THEN round(sqrt(wv) / wsum, 6) + 0.0 END AS se_adj,
       strata_used
FROM per_g
""")
def epi_direct_std_q(spark, sf):
    # Directly standardized incidence rates (operators/survival.py
    # direct_standardization): the two order-priority cohorts'
    # order-year mixes differ, so crude event rates are confounded —
    # re-weight each cohort's year-specific rates to the pooled
    # person-time standard (Rothman-Greenland direct standardization
    # with Poisson variance). Grid-sized aggregates + one broadcast
    # join; no windows, no collect.
    from clinpy_spark.operators.survival import direct_standardization

    obs = _surv_obs_strata(spark, sf)
    return direct_standardization(obs, "priority", "stratum", "evt",
                                  "duration")


def _surv_obs_strata(spark, sf) -> DataFrame:
    """_surv_obs plus the order-year stratum column (SQL twin inlined
    in the epi_direct_std oracle)."""
    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    return o.select(
        F.col("o_orderpriority").alias("priority"),
        F.year("o_orderdate").cast("long").alias("stratum"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
    )


@q("surv_cox_tv", """
WITH base AS (
  SELECT LEAST(h % 1500 + 1, dd) AS dur,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
         h2 % 1500 + 1 AS sw
  FROM (SELECT
          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
            AS h,
          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))::BIGINT
            AS h2,
          datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
ep AS (
  SELECT 0 AS a, CASE WHEN sw < dur THEN sw ELSE dur END AS b,
         CASE WHEN sw < dur THEN 0 ELSE evt END AS e, 0 AS x
  FROM base
  UNION ALL
  SELECT sw AS a, dur AS b, evt AS e, 1 AS x FROM base WHERE sw < dur),
epf AS MATERIALIZED (SELECT a, b, e, x FROM ep WHERE b > a),
ev AS (SELECT b AS t, CAST(sum(e) AS BIGINT) AS d,
              CAST(sum(e * x) AS BIGINT) AS d1
       FROM epf GROUP BY b HAVING sum(e) > 0),
u AS (
  SELECT a AS t, CAST(count(*) AS BIGINT) AS dn,
         CAST(sum(x) AS BIGINT) AS dn1, 1 AS is_real,
         NULL AS d, NULL AS d1
  FROM epf GROUP BY a
  UNION ALL
  SELECT b AS t, -CAST(count(*) AS BIGINT), -CAST(sum(x) AS BIGINT), 1,
         NULL, NULL
  FROM epf GROUP BY b
  UNION ALL
  SELECT t, 0, 0, 0, d, d1 FROM ev),
w AS (SELECT t, d, d1, is_real,
        coalesce(sum(dn) OVER (ORDER BY t, is_real
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
        coalesce(sum(dn1) OVER (ORDER BY t, is_real
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM u),
f AS MATERIALIZED (SELECT t, d, d1, CAST(n AS BIGINT) AS n,
                          CAST(n1 AS BIGINT) AS n1
                   FROM w WHERE is_real = 0),
i1 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp(0.0) AS s1,
                    (n - n1) + n1 * exp(0.0) AS s0 FROM f)),
b1 AS (SELECT CASE WHEN i > 0 THEN 0.0 + u / i END AS beta FROM i1),
i2 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b1)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b1)) AS s0 FROM f)),
b2 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b1) + u / i END AS beta FROM i2),
i3 AS (SELECT sum(d1 - d * s1 / s0) AS u, sum(d * (s1 / s0) * (1 - s1 / s0)) AS i
       FROM (SELECT d, d1, n1 * exp((SELECT beta FROM b2)) AS s1,
                    (n - n1) + n1 * exp((SELECT beta FROM b2)) AS s0 FROM f)),
b3 AS (SELECT CASE WHEN i > 0 THEN (SELECT beta FROM b2) + u / i END AS beta FROM i3),
fin AS (SELECT sum(d * (s1 / s0) * (1 - s1 / s0)) AS i,
               CAST(sum(d) AS BIGINT) AS n_events
        FROM (SELECT d, n1 * exp((SELECT beta FROM b3)) AS s1,
                     (n - n1) + n1 * exp((SELECT beta FROM b3)) AS s0 FROM f))
SELECT CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round((SELECT beta FROM b3), 6) END AS beta,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round(exp((SELECT beta FROM b3)), 6) END AS hr,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round(1 / sqrt(i), 6) END AS se,
       CASE WHEN (SELECT beta FROM b3) IS NOT NULL AND i > 0
            THEN round((SELECT beta FROM b3) * (SELECT beta FROM b3) * i, 6)
       END AS wald_chi2,
       coalesce(n_events, 0) AS n_events,
       (SELECT CAST(count(*) AS BIGINT) FROM epf) AS n_episodes
FROM fin
""")
def surv_cox_tv_q(spark, sf):
    # Time-varying-covariate Cox in Andersen-Gill counting-process
    # form (operators/survival.py cox_newton_tv): each subject
    # switches from x=0 to x=1 at a deterministic hashed switch day,
    # contributing pre-switch and post-switch EPISODES — the
    # immortal-time-bias-free treatment-switch analysis. Risk sets
    # come from per-time arrival/departure flows + one exclusive
    # running window (never an episode x time interval join); the
    # oracle replays the identical grid and the 3 chained Newton CTEs
    # of surv_cox_beta.
    from clinpy_spark.operators.survival import cox_newton_tv

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    md = F.md5(F.col("o_orderkey").cast("string"))
    h = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    base = o.select(
        F.least(followup, dd).alias("dur"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        (h2 % 1500 + 1).alias("sw"))
    pre = base.select(
        F.lit(0).cast("long").alias("a"),
        F.when(F.col("sw") < F.col("dur"), F.col("sw"))
        .otherwise(F.col("dur")).alias("b"),
        F.when(F.col("sw") < F.col("dur"), 0).otherwise(F.col("evt"))
        .alias("e"),
        F.lit(0).alias("x"))
    post = base.filter(F.col("sw") < F.col("dur")).select(
        F.col("sw").alias("a"), F.col("dur").alias("b"),
        F.col("evt").alias("e"), F.lit(1).alias("x"))
    return cox_newton_tv(pre.unionByName(post), "a", "b", "e", "x",
                         iterations=3)


@q("text_kneser_ney", f"""
WITH d AS (SELECT doc_id, w FROM ({_SHINGLE_SQL}) base),
pairs AS (
  SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
  FROM d, unnest(range(1, len(w))) AS u(i)),
bgc AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
ctx AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS ctot,
               CAST(count(*) AS BIGINT) AS fan
        FROM bgc GROUP BY prev),
cont AS (SELECT cur, CAST(count(*) AS BIGINT) AS cont FROM bgc GROUP BY cur),
consts AS (SELECT CAST(count(*) AS BIGINT) AS t,
                  CAST(sum(CASE WHEN c2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n1,
                  CAST(sum(CASE WHEN c2 = 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n2
           FROM bgc)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln(
         (c2 - CASE WHEN n1 + 2 * n2 > 0
                    THEN CAST(n1 AS DOUBLE) / (n1 + 2 * n2)
                    ELSE 0.5 END) / ctot
         + CASE WHEN n1 + 2 * n2 > 0
                THEN CAST(n1 AS DOUBLE) / (n1 + 2 * n2)
                ELSE 0.5 END * fan / ctot * cont / t
       )), 6) AS surprisal
FROM pairs JOIN bgc USING (prev, cur) JOIN ctx USING (prev)
     JOIN cont USING (cur), consts
GROUP BY doc_id
""")
def text_kneser_ney_q(spark, sf):
    # Interpolated Kneser-Ney bigram LM (operators/lm.py
    # kneser_ney_surprisal): absolute discounting with the
    # count-of-counts MLE discount and CONTINUATION-probability
    # backoff — the modern-smoothing rung above text_lm_surprisal's
    # add-one and text_trigram_ppl's Jelinek-Mercer. Same one-pass
    # tokenization, n-gram-keyed count joins, 1-row (T, D) broadcast.
    from clinpy_spark.operators.lm import kneser_ney_surprisal

    out = kneser_ney_surprisal(_t(spark, sf, "documents"))
    return out.select("doc_id", "n_bigrams",
                      F.round("surprisal", 6).alias("surprisal"))


@q("dx_conditional_logit", """
WITH base AS (
  SELECT o_orderkey AS s,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           AS h,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))::BIGINT
           AS h2
  FROM orders),
pairs AS MATERIALIZED (
  SELECT s, 1 AS cs, CASE WHEN h % 100 < 60 THEN 1 ELSE 0 END AS x
  FROM base
  UNION ALL
  SELECT s, 0 AS cs, CASE WHEN h2 % 100 < 40 THEN 1 ELSE 0 END AS x
  FROM base),
per AS (SELECT s, count(*) AS n, sum(cs) AS nc,
               sum(cs * x) AS xc, sum((1 - cs) * x) AS xk
        FROM pairs GROUP BY s),
agg AS (SELECT
    CAST(count(*) AS BIGINT) AS n_strata,
    CAST(sum(CASE WHEN n = 2 AND nc = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_used,
    CAST(sum(CASE WHEN n = 2 AND nc = 1 AND xc = 1 AND xk = 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n10,
    CAST(sum(CASE WHEN n = 2 AND nc = 1 AND xc = 0 AND xk = 1
             THEN 1 ELSE 0 END) AS BIGINT) AS n01
  FROM per)
SELECT n_strata, n_used, n10, n01,
       CASE WHEN n10 > 0 AND n01 > 0
            THEN round(ln(CAST(n10 AS DOUBLE) / n01), 6) + 0.0
       END AS beta,
       CASE WHEN n10 > 0 AND n01 > 0
            THEN round(CAST(n10 AS DOUBLE) / n01, 6) END AS or_hat,
       CASE WHEN n10 > 0 AND n01 > 0
            THEN round(sqrt(1.0 / n10 + 1.0 / n01), 6) END AS se,
       CASE WHEN n10 > 0 AND n01 > 0
            THEN round(ln(CAST(n10 AS DOUBLE) / n01)
                       / sqrt(1.0 / n10 + 1.0 / n01), 6) + 0.0
       END AS z,
       CASE WHEN n10 + n01 > 0
            THEN round(CAST((n10 - n01) * (n10 - n01) AS DOUBLE)
                       / (n10 + n01), 6)
       END AS mcnemar_chi2
FROM agg
""")
def dx_conditional_logit_q(spark, sf):
    # 1:1 matched conditional logistic regression (operators/assoc.py
    # conditional_logit_11): each order is a matched pair (hashed case
    # and control exposures), the conditional MLE closed-form on the
    # discordant pairs — beta = ln(n10/n01), score test = McNemar.
    # One groupBy + one global aggregate; no joins, windows, collects.
    from clinpy_spark.operators.assoc import conditional_logit_11

    o = _t(spark, sf, "orders")
    md = F.md5(F.col("o_orderkey").cast("string"))
    h = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    case = o.select(
        F.col("o_orderkey").alias("s"), F.lit(1).alias("cs"),
        F.when(h % 100 < 60, 1).otherwise(0).alias("x"))
    ctl = o.select(
        F.col("o_orderkey").alias("s"), F.lit(0).alias("cs"),
        F.when(h2 % 100 < 40, 1).otherwise(0).alias("x"))
    return conditional_logit_11(case.unionByName(ctl), "s", "cs", "x")


@q("q_l_diversity", """
WITH per AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS rows_
  FROM customer GROUP BY 1, 2)
SELECT 3 AS l, CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(CASE WHEN d < 3 THEN rows_ ELSE 0 END) AS BIGINT)
         AS n_rows_at_risk,
       CAST(min(d) AS BIGINT) AS min_distinct_sensitive,
       min(d) >= 3 AS passed
FROM per
""")
def q_l_diversity_q(spark, sf):
    # Distinct l-diversity (operators/quality.py l_diversity_report)
    # over the (nation, segment) quasi-identifier with the banded
    # account balance as the sensitive attribute — the governance rung
    # above q_k_anonymity (a k-anonymous but homogeneous class still
    # leaks its sensitive value). Two-level exact aggregate; no joins.
    from clinpy_spark.operators.quality import l_diversity_report

    c = _t(spark, sf, "customer").withColumn(
        "bal_band", F.floor(F.col("c_acctbal") / 1000).cast("long"))
    return l_diversity_report(
        c, ["c_nationkey", "c_mktsegment"], "bal_band", l=3)


@q("surv_km_iptw", f"""
WITH obs AS MATERIALIZED (
  SELECT priority, duration, evt,
         0.5 + (h2 % 8) / 4.0 AS w
  FROM (SELECT o_orderpriority AS priority,
               LEAST(h % 1500 + 1, dd) AS duration,
               CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS evt,
               h2
        FROM (SELECT o_orderpriority,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                  ::BIGINT AS h,
                ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))
                  ::BIGINT AS h2,
                datediff('day', o_orderdate, DATE '1998-08-02') AS dd
              FROM orders
              WHERE o_orderpriority IN ('1-URGENT', '5-LOW')))),
agg AS (SELECT priority, duration,
               sum(w * evt) AS wd, sum(w * (1 - evt)) AS wc
        FROM obs GROUP BY priority, duration),
wgt AS (SELECT *,
          sum(wd + wc) OVER (PARTITION BY priority) -
            coalesce(sum(wd + wc) OVER (PARTITION BY priority
              ORDER BY duration
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS nw
        FROM agg),
s AS (SELECT *,
        sum(CASE WHEN wd < nw THEN ln(1 - wd / nw) ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS lsum,
        max(CASE WHEN wd >= nw THEN 1 ELSE 0 END)
          OVER (PARTITION BY priority ORDER BY duration) AS zf
      FROM wgt)
SELECT priority, duration,
       round(nw, 6) AS n_risk_w, round(wd, 6) AS events_w,
       round(wc, 6) AS censored_w,
       CASE WHEN zf = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS survival
FROM s
""")
def surv_km_iptw_q(spark, sf):
    # IPTW-adjusted Kaplan-Meier (operators/survival.py km_weighted):
    # the pseudo-population survival curve under quarter-step
    # deterministic weights (dyadic rationals, so every weighted sum is
    # bit-exact in both engines) — same per-(arm, time) grid +
    # total-minus-prefix windows as surv_km_curve.
    from clinpy_spark.operators.survival import km_weighted

    o = _t(spark, sf, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
    md = F.md5(F.col("o_orderkey").cast("string"))
    h = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    followup = h % 1500 + 1
    dd = F.datediff(
        F.lit("1998-08-02").cast("date"), F.col("o_orderdate")).cast("long")
    obs = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.least(followup, dd).alias("duration"),
        F.when(followup <= dd, 1).otherwise(0).alias("evt"),
        (0.5 + (h2 % 8) / F.lit(4.0)).alias("w"))
    return km_weighted(obs, "duration", "evt", "priority", "w")


@q("surv_mcf_recurrent", """
WITH ev AS MATERIALIZED (
  SELECT o_custkey AS id,
         datediff('day', DATE '1992-01-01', o_orderdate) AS day,
         CAST(count(*) AS BIGINT) AS k
  FROM orders WHERE o_custkey % 10 = 0 GROUP BY 1, 2),
ep0 AS (
  SELECT id, coalesce(lag(day) OVER (PARTITION BY id ORDER BY day), 0)
           AS a,
         day AS b, k AS e
  FROM ev),
tl AS (SELECT id, max(day) AS a,
              datediff('day', DATE '1992-01-01', DATE '1998-08-02') AS b,
              0 AS e
       FROM ev GROUP BY id),
epf AS MATERIALIZED (
  SELECT a, b, e FROM ep0 WHERE b > a
  UNION ALL
  SELECT a, b, e FROM tl WHERE b > a),
evt AS (SELECT b AS t, CAST(sum(e) AS BIGINT) AS d
        FROM epf GROUP BY b HAVING sum(e) > 0),
u AS (
  SELECT a AS t, CAST(count(*) AS BIGINT) AS dn, 1 AS is_real,
         NULL AS d
  FROM epf GROUP BY a
  UNION ALL
  SELECT b AS t, -CAST(count(*) AS BIGINT), 1, NULL FROM epf GROUP BY b
  UNION ALL
  SELECT t, 0, 0, d FROM evt),
w AS (SELECT t, d, is_real,
        coalesce(sum(dn) OVER (ORDER BY t, is_real
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
      FROM u),
f AS (SELECT t, d, CAST(n AS BIGINT) AS n FROM w WHERE is_real = 0)
SELECT CAST(t AS DOUBLE) AS t, n AS n_risk, d AS n_events,
       round(sum(CAST(d AS DOUBLE) / n) OVER (ORDER BY t), 6) AS mcf,
       round(sqrt(sum(CAST(d AS DOUBLE) / (CAST(n AS DOUBLE) * n))
                  OVER (ORDER BY t)), 6) AS se
FROM f
""")
def surv_mcf_recurrent_q(spark, sf):
    # Recurrent-event mean cumulative function (operators/survival.py
    # mcf_curve): every sampled customer's orders are recurrent events
    # over calendar time — consecutive-order episodes via one lag
    # window plus a censoring tail to the dataset horizon, then the
    # counting-process flow grid and two cumulative windows. The MCF
    # is the per-customer expected order count by day t.
    from clinpy_spark.operators.survival import mcf_curve

    o = _t(spark, sf, "orders").filter(F.col("o_custkey") % 10 == 0)
    ev = (
        o.groupBy(
            F.col("o_custkey").alias("id"),
            F.datediff(F.col("o_orderdate"),
                       F.lit("1992-01-01").cast("date")).alias("day"))
        .agg(F.count(F.lit(1)).alias("k"))
    )
    w_lag = Window.partitionBy("id").orderBy("day")
    horizon = F.datediff(F.lit("1998-08-02").cast("date"),
                         F.lit("1992-01-01").cast("date"))
    ep0 = ev.select(
        F.coalesce(F.lag("day").over(w_lag), F.lit(0)).alias("a"),
        F.col("day").alias("b"), F.col("k").alias("e"))
    tl = ev.groupBy("id").agg(F.max("day").alias("a")).select(
        "a", horizon.cast("long").alias("b"), F.lit(0).alias("e"))
    eps = ep0.unionByName(tl)
    return mcf_curve(eps, "a", "b", "e")


@q("epi_effect_measures", """
WITH base AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS ex,
         CASE WHEN h % 1500 + 1 <= dd THEN 1 ELSE 0 END AS ev
  FROM (SELECT o_orderpriority,
          ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
            AS h,
          datediff('day', o_orderdate, DATE '1998-08-02') AS dd
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW'))),
t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(ex * ev) AS BIGINT) AS a,
             CAST(sum(ex * (1 - ev)) AS BIGINT) AS b,
             CAST(sum((1 - ex) * ev) AS BIGINT) AS c,
             CAST(sum((1 - ex) * (1 - ev)) AS BIGINT) AS d
      FROM base),
m AS (SELECT *,
        CAST(a AS DOUBLE) / (a + b) AS p1,
        CAST(c AS DOUBLE) / (c + d) AS p0,
        sqrt(CAST(a AS DOUBLE) / (a + b) * (1 - CAST(a AS DOUBLE) / (a + b))
               / (a + b)
             + CAST(c AS DOUBLE) / (c + d)
               * (1 - CAST(c AS DOUBLE) / (c + d)) / (c + d)) AS se_rd,
        (CAST(a AS DOUBLE) / (a + b)) / (CAST(c AS DOUBLE) / (c + d)) AS rr,
        sqrt(1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d)) AS se_lrr
      FROM t),
m2 AS (SELECT *,
         rr * exp(-1.96 * se_lrr) AS rr_lo,
         rr * exp(1.96 * se_lrr) AS rr_hi
       FROM m),
m3 AS (SELECT *,
         CASE WHEN rr >= 1 THEN rr_lo ELSE rr_hi END AS near,
         CASE WHEN rr >= 1 THEN rr ELSE 1 / rr END AS rstar
       FROM m2)
SELECT n, a, b, c, d,
       round(p1, 6) AS risk1, round(p0, 6) AS risk0,
       round(p1 - p0, 6) + 0.0 AS rd,
       round(p1 - p0 - 1.96 * se_rd, 6) + 0.0 AS rd_lo,
       round(p1 - p0 + 1.96 * se_rd, 6) + 0.0 AS rd_hi,
       CASE WHEN p1 - p0 != 0
            THEN round(1 / abs(p1 - p0), 6) END AS nnt,
       round(rr, 6) AS rr, round(rr_lo, 6) AS rr_lo,
       round(rr_hi, 6) AS rr_hi,
       round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
         AS or_hat,
       round(rstar + sqrt(rstar * (rstar - 1)), 6) AS e_value,
       CASE WHEN rr_lo <= 1 AND rr_hi >= 1 THEN 1.0
            ELSE round((CASE WHEN near >= 1 THEN near ELSE 1 / near END)
                       + sqrt((CASE WHEN near >= 1 THEN near
                               ELSE 1 / near END)
                              * ((CASE WHEN near >= 1 THEN near
                                  ELSE 1 / near END) - 1)), 6)
       END AS e_value_ci
FROM m3
""")
def epi_effect_measures_q(spark, sf):
    # Effect-measure translation panel (operators/assoc.py
    # effect_measures): risk difference + Wald CI, NNT, relative risk
    # + Katz log CI, odds ratio, and the VanderWeele-Ding E-value for
    # unmeasured confounding (point and CI forms) for the
    # URGENT-vs-LOW event contrast — one conditional-sum aggregate.
    from clinpy_spark.operators.assoc import effect_measures

    obs = _surv_obs(spark, sf)
    return effect_measures(
        obs.select(
            (F.col("priority") == "1-URGENT").cast("int").alias("ex"),
            F.col("evt").alias("ev")),
        "ex", "ev")


@q("surv_aalen_excess", f"""
WITH obs AS ({_SURV_OBS_SQL}),
per_t AS (SELECT duration,
    sum(CASE WHEN priority = '1-URGENT' THEN evt ELSE 0 END) AS da,
    sum(CASE WHEN priority = '1-URGENT' THEN 1 ELSE 0 END) AS ra,
    sum(CASE WHEN priority = '5-LOW' THEN evt ELSE 0 END) AS db,
    sum(CASE WHEN priority = '5-LOW' THEN 1 ELSE 0 END) AS rb
  FROM obs GROUP BY duration),
w AS (SELECT *,
        sum(ra) OVER () - coalesce(sum(ra) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
        sum(rb) OVER () - coalesce(sum(rb) OVER (ORDER BY duration
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nb
      FROM per_t),
c AS (SELECT *,
        sum(CASE WHEN da > 0 THEN CAST(da AS DOUBLE) / na ELSE 0 END
            - CASE WHEN db > 0 THEN CAST(db AS DOUBLE) / nb ELSE 0 END)
          OVER (ORDER BY duration) AS b,
        sum(CASE WHEN da > 0
                 THEN CAST(da AS DOUBLE) / (CAST(na AS DOUBLE) * na)
                 ELSE 0 END
            + CASE WHEN db > 0
                   THEN CAST(db AS DOUBLE) / (CAST(nb AS DOUBLE) * nb)
                   ELSE 0 END)
          OVER (ORDER BY duration) AS v
      FROM w)
SELECT duration, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(da AS BIGINT) AS d_a, CAST(db AS BIGINT) AS d_b,
       round(b, 6) + 0.0 AS excess_cumhaz,
       round(sqrt(v), 6) AS se,
       CASE WHEN sqrt(v) > 0 THEN round(b / sqrt(v), 6) + 0.0 END AS z
FROM c WHERE da + db > 0
""")
def surv_aalen_excess_q(spark, sf):
    # Aalen-type excess cumulative hazard (operators/survival.py
    # aalen_excess_hazard): the URGENT arm's added hazard over LOW as
    # a CURVE with pointwise martingale bands — the additive-scale
    # time-course the single Cox coefficient compresses away. Same
    # per-time grid + windows as the log-rank family.
    from clinpy_spark.operators.survival import aalen_excess_hazard

    return aalen_excess_hazard(
        _surv_obs(spark, sf), "duration", "evt", "priority",
        "1-URGENT", "5-LOW")


@q("epi_poisson_rate", f"""
WITH obs AS ({_SURV_OBS_SQL}),
grid AS (SELECT CASE WHEN priority = '1-URGENT' THEN 1.0 ELSE 0.0 END
           AS x,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(evt) AS DOUBLE) AS sy,
         CAST(sum(duration) AS DOUBLE) AS spt
         FROM obs WHERE duration > 0 GROUP BY 1),
b0 AS (SELECT CASE WHEN sum(sy) > 0 THEN ln(sum(sy) / sum(spt))
              ELSE 0.0 END AS b0, 0.0 AS b1
       FROM grid),
i1 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, sy, b0, b1, spt * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b0)
       GROUP BY b0, b1),
b1c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i1),
i2 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, sy, b0, b1, spt * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b1c)
       GROUP BY b0, b1),
b2c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i2),
i3 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, sy, b0, b1, spt * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b2c)
       GROUP BY b0, b1),
b3c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i3),
i4 AS (SELECT b0, b1, sum(sy - w) AS u0, sum(x * (sy - w)) AS u1,
              sum(w) AS i00, sum(x * w) AS i01, sum(x * x * w) AS i11
       FROM (SELECT x, sy, b0, b1, spt * exp(b0 + b1 * x) AS w
             FROM grid CROSS JOIN b3c)
       GROUP BY b0, b1),
b4c AS (SELECT CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b0 + (i11 * u0 - i01 * u1) / (i00 * i11 - i01 * i01) END AS b0,
               CASE WHEN i00 * i11 - i01 * i01 > 0
              THEN b1 + (i00 * u1 - i01 * u0) / (i00 * i11 - i01 * i01) END AS b1
        FROM i4),
fin AS (SELECT b0, b1, sum(w) AS i00, sum(x * w) AS i01,
               sum(x * x * w) AS i11,
               CAST(sum(n) AS BIGINT) AS n, sum(sy) AS y_total,
               sum(spt) AS ptime_total
        FROM (SELECT x, n, sy, spt, b0, b1, spt * exp(b0 + b1 * x) AS w
              FROM grid CROSS JOIN b4c)
        GROUP BY b0, b1)
SELECT CASE WHEN b0 IS NOT NULL AND b1 IS NOT NULL
            AND i00 * i11 - i01 * i01 > 0
            THEN round(b0, 6) + 0.0 END AS beta0,
       CASE WHEN b0 IS NOT NULL AND b1 IS NOT NULL
            AND i00 * i11 - i01 * i01 > 0
            THEN round(b1, 6) + 0.0 END AS beta1,
       CASE WHEN b0 IS NOT NULL AND b1 IS NOT NULL
            AND i00 * i11 - i01 * i01 > 0
            THEN round(exp(b1), 6) END AS rate_ratio,
       CASE WHEN b0 IS NOT NULL AND b1 IS NOT NULL
            AND i00 * i11 - i01 * i01 > 0
            THEN round(sqrt(i00 / (i00 * i11 - i01 * i01)), 6)
       END AS se1,
       CASE WHEN b0 IS NOT NULL AND b1 IS NOT NULL
            AND i00 * i11 - i01 * i01 > 0
            THEN round(b1 * b1 / (i00 / (i00 * i11 - i01 * i01)), 6)
       END AS wald_chi2,
       coalesce(n, 0) AS n,
       round(coalesce(y_total, 0.0), 6) AS y_total,
       round(coalesce(ptime_total, 0.0), 6) AS ptime_total
FROM fin
""")
def epi_poisson_rate_q(spark, sf):
    # Poisson rate regression with a person-time offset
    # (operators/assoc.py poisson_rate_newton): events per follow-up
    # day for the URGENT-vs-LOW contrast — the offset makes the
    # per-cell sufficient statistic (sum y, sum pt), collected once and
    # fitted on the driver; for this binary x the MLE is
    # closed-form and rate_ratio equals surv_incidence_rate's IRR
    # exactly (property-tested).
    from clinpy_spark.operators.assoc import poisson_rate_newton

    obs = _surv_obs(spark, sf)
    return poisson_rate_newton(
        obs.select(
            F.when(F.col("priority") == "1-URGENT", 1.0).otherwise(0.0)
            .alias("x"),
            F.col("evt").alias("y"),
            F.col("duration").alias("pt")),
        "x", "y", "pt")


# ---------------------------------------------------------------------------
# Registry ordering.
#
# The driver's correctness gate records the first 50 oracled queries in
# registry order; everything past that window is only proven by the local
# gate (tools/check_oracle.py) and pytest.  _PRIORITY rotates the window by
# STALENESS each round (r7 verdict #2): new queries first (their first
# driver record), then oracled queries ordered by the round of their most
# recent driver-recorded row (oldest first), so the artifact re-proves the
# least-recently-recorded half of the surface every round and no query's
# newest evidence ages past ~2 rounds.
# ---------------------------------------------------------------------------

_PRIORITY: list[str] = [
    # -- r14 window (r13 verdict #1/#10): the two FIXED queries lead
    # (r13's red hash records, re-emitted under the sorted-reduction +
    # ordered-oracle determinism fix — bit-exact vs DuckDB unrounded),
    # then every query whose code path changed this round (driver-side
    # L-BFGS quality fit; shingles-in-Arrow portable minhash — its
    # rows-only twin dedup_minhash_lsh PAIRED with the hash-oracled
    # dedup_minhash_portable gate; driver-side finegray grid; the
    # take()-guarded binary-covariate Newton family; the market-basket
    # join removal), then the stalest driver records (r2-era agg/TPC-H
    # tail, r4/r6-era next) so no record ages past ~2 rounds. --
    "surv_cox_multi",
    "surv_cox_multi3",
    "surv_finegray_beta",
    "surv_finegray_score",
    "curate_quality_model",
    "dedup_minhash_portable",
    "text_fuzzy_decontaminate",
    "dedup_minhash_lsh",
    "a16_market_basket",
    "surv_cox_beta",
    "surv_cox_tv",
    "surv_ph_check",
    "surv_cox_strat",
    "a4_distinct_dedup",
    "a6_pivot_wide",
    "a7_ratio_agg",
    "a9_explode_words",
    "a12_hash_id",
    "a8_rollup",
    "e_time_rollup",
    "o6_approx_quantiles",
    "s13_stratified_sample",
    "s14_profile",
    "s12_merge_upsert",
    "a15_hll_sketch",
    "a8c_cube",
    "o4_exact_percentiles",
    "a6b_unpivot",
    "o3_lag_gaps",
    "tpch_q1_pricing",
    "tpch_q3_shipping",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast",
    "tpch_q4_order_priority",
    "tpch_q13_cust_distribution",
    "flagship_cohort_revenue",
    "p_coerce_floor",
    "j13_overlap_fraction",
    "j14_point_in_interval",
    "o7_ntile_ranks",
    "text_decontaminate",
    "text_repetition",
    "sim_range_search",
    "tpch_q15_top_supplier",
    "mix_resample_upsample",
    "curate_gopher_rules",
    "o2_running_total",
    "e_tumbling_hour",
    "e_sliding_window",
    "text_tokens_bpe",
    # -- beyond the 50-slot driver window (kept for local gate ordering) --
    "dx_logistic_multi",
    "dx_poisson_multi",
    "surv_rmst_diff",
    "dx_multinomial",
    "dx_ordinal",
    "curate_pii_scan",
    "dx_fleiss_kappa",
    "dx_kendall_tau",
    "gx_breslow_day",
    "dx_cohen_kappa",
    "surv_cindex",
    "dx_jonckheere",
    "dx_somers_d",
    "curate_gains_curve",
    "epi_direct_std",
    "text_kneser_ney",
    "dx_conditional_logit",
    "q_l_diversity",
    "surv_km_iptw",
    "surv_mcf_recurrent",
    "surv_logrank_gehan",
    "epi_effect_measures",
    "surv_aalen_excess",
    "epi_poisson_rate",
    "dedup_embedding_cosine",
    "dedup_embedding_recall",
    "dedup_semdedup",
    "sim_topk_lsh",
    "sim_recall_lsh",
    "sim_topk_ivf",
    "sim_recall_ivf",
    "sim_topk_pq",
    "sim_recall_pq",
    "sim_topk_ivfpq",
    "sim_recall_ivfpq",
    "sim_topk_hamming",
    "sim_recall_hamming",
    "sim_topk_sq8",
    "sim_recall_sq8",
    "a10_json_flatten",
    "a11_union_tagged",
    "a11b_intersect",
    "a11c_except",
    "a2b_two_phase_distinct",
    "mix_by_lang",
    "s15_histogram",
    "sample_exact_n",
    "skew_salted_join",
    "split_corpus_assign",
    "text_fingerprint",
    "text_langid",
    "text_pack_chunks",
    "text_quality",
    "text_redact",
    "text_stats",
    "text_vocab_topk",
    "tpch_q14_promo",
    "tpch_q17_small_qty",
    "tpch_q19_disjunctive",
    "a13_rollup_revenue",
    "curate_kept_by_lang",
    "curate_stats",
    "dedup_apply_clusters",
    "dedup_cluster_components",
    "dedup_exact_stats",
    "dedup_ngram_jaccard",
    "dedup_passage_keepfirst",
    "dedup_simhash_pairs",
    "e_gaps_islands",
    "e_sessionize",
    "e_sessionize_bucketed",
    "j10_interval_binned",
    "j10b_interval_left",
    "j10c_interval_full",
    "j12_band_pairs",
    "j15_asof_join",
    "j16_nearest_feature",
    "j17_fuzzy_pairs",
    "j18_fuzzy_join",
    "j19_scd2_lookup",
    "mm_extract_features",
    "mm_flac_features",
    "mm_frame_sample",
    "mm_gif_frames",
    "mm_jpeg_features",
    "mm_resize",
    "mm_tiff_features",
]


def _ordered(names: "dict[str, object]") -> list[str]:
    pri = [n for n in _PRIORITY if n in names]
    rest = [n for n in names if n not in set(_PRIORITY)]
    return pri + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _QUERIES[n] for n in _ordered(_QUERIES)}


def oracle_sql() -> dict[str, str]:
    return {n: _ORACLE[n] for n in _ordered(_ORACLE)}

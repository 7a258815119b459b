package graft.ops

import graft.data.{Artifacts, Tables}
import graft.ops.Exact._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (SURVEY §2.B J1–J8; J9 lives in graft.llm.Similarity).
  *
  * The reference only has dict-lookup joins (reference:
  * maggy/core/experiment_driver/optimization_driver.py:219-226); the engine
  * declares the full Spark join surface. Scale notes per query inline:
  * broadcast small dims, shuffle-hash/sort-merge the large-large joins, and
  * keep the join keys as the shuffle partitioning so AQE can reuse it.
  */
/** Banded equi-join rewrite for range predicates (the classic trick for
  * `b BETWEEN a - w AND a + w` at scale: bucket both sides by
  * floor(value/w); every qualifying pair is at most one bucket apart, so
  * the left side replicates into its 3 neighboring buckets and the join
  * becomes an equi join on the bucket key — shuffle-partitionable, AQE-skew
  * splittable, no nested loop). */
object RangeJoins {
  def bandedBetween(
      left: org.apache.spark.sql.DataFrame, leftVal: org.apache.spark.sql.Column,
      right: org.apache.spark.sql.DataFrame, rightVal: org.apache.spark.sql.Column,
      width: Double): org.apache.spark.sql.DataFrame = {
    val bucket = floor(leftVal / width)
    val l = left.withColumn("__bucket",
      explode(array(bucket - 1, bucket, bucket + 1)))
    val r = right.withColumn("__bucket", floor(rightVal / width))
    l.join(r, "__bucket")
      .filter(rightVal.between(leftVal - width, leftVal + width))
      .drop("__bucket")
  }
}

object Joins {
  val entries: Seq[QueryDef] = Seq(
    // J1: equi inner with an explicitly broadcast dimension. At 100 TB the
    // customer dim at one row per customer stays far under the broadcast
    // threshold relative to orders; the hint removes the shuffle entirely.
    QueryDef("j1_join_broadcast",
      """SELECT c_mktsegment,
        |       count(*) AS n_orders,
        |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(22,8))) AS DOUBLE), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin) { (s, d) =>
      Tables(s, d, "orders")
        .join(broadcast(Tables(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total_price"))
    },

    // J2: large-large equi join → shuffle on the join key; partial aggregation
    // happens map-side before the groupBy shuffle.
    QueryDef("j2_join_shuffle",
      """SELECT o_orderpriority,
        |       count(*) AS n_items,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem")
        .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    },

    // J3: multi-way star join — fact (lineitem) joined to orders, then the
    // small dims broadcast. One shuffle (l_orderkey = o_orderkey); dims free.
    QueryDef("j3_star_join",
      """SELECT r_name, n_name,
        |       count(*) AS n_items,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey  = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin) { (s, d) =>
      Tables(s, d, "lineitem")
        .join(Tables(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          count(lit(1)).as("n_items"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    },

    // J4: left outer — customers with zero orders kept (count of NULL key = 0).
    QueryDef("j4_outer_join",
      """SELECT c_custkey,
        |       count(o_orderkey) AS n_orders,
        |       round(CAST(sum(CAST(coalesce(o_totalprice, 0) AS DECIMAL(22,8))) AS DOUBLE), 2) AS total_price
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin) { (s, d) =>
      Tables(s, d, "customer")
        .join(Tables(s, d, "orders"), col("o_custkey") === col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          moneySum(coalesce(col("o_totalprice"), lit(0))).as("total_price"))
    },

    // J5a: left semi (EXISTS) — membership without duplication
    // (reference: promoted-set membership, maggy/optimizer/asha.py:119-121).
    QueryDef("j5_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin) { (s, d) =>
      val bigOrders = Tables(s, d, "orders").filter(col("o_totalprice") > 100000)
      Tables(s, d, "customer")
        .join(bigOrders, col("o_custkey") === col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    },

    // J5b: left anti (NOT EXISTS) — duplicate-config exclusion semantics
    // (reference: maggy/optimizer/abstractoptimizer.py:274-295). Filtered to
    // big orders so the anti set is non-empty on testdata (a 0-row result
    // would make the oracle check vacuous).
    QueryDef("j5_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin) { (s, d) =>
      val bigOrders = Tables(s, d, "orders").filter(col("o_totalprice") > 300000)
      Tables(s, d, "customer")
        .join(bigOrders, col("o_custkey") === col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    // J4b: FULL outer — both unmatched sides preserved (filtered inputs so
    // each side genuinely has rows the other lacks).
    QueryDef("j4b_full_outer",
      """SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |       count(c_name) AS n_cust_rows,
        |       count(o_orderkey) AS n_big_orders
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
        |  ON o_custkey = c_custkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "customer").filter(col("c_acctbal") > 9000)
      val o = Tables(s, d, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, col("o_custkey") === col("c_custkey"), "full_outer")
        .groupBy(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"))
        .agg(count(col("c_name")).as("n_cust_rows"), count(col("o_orderkey")).as("n_big_orders"))
    },

    // J6: cross join — grid-search cartesian product
    // (reference: maggy/optimizer/gridsearch.py:74-81). Small dims only.
    QueryDef("j6_cross_join",
      "SELECT r_name, n_name FROM region CROSS JOIN nation") { (s, d) =>
      Tables(s, d, "region").crossJoin(Tables(s, d, "nation")).select("r_name", "n_name")
    },

    // J7: theta/range join (non-equi) via the banded equi-join rewrite —
    // RangeJoins.bandedBetween turns the BETWEEN into a shuffle on
    // floor(value/width) buckets, so it scales LARGE × LARGE where a
    // broadcast-nested-loop would need one side to fit in memory. (With a
    // genuinely small side, `broadcast(...)` + plain BETWEEN is still the
    // cheaper plan; the banded rewrite is the 100 TB path.)
    QueryDef("j7_range_join",
      """SELECT c_custkey, count(*) AS n_close
        |FROM customer JOIN supplier
        |  ON s_acctbal BETWEEN c_acctbal - 100 AND c_acctbal + 100
        |GROUP BY c_custkey""".stripMargin) { (s, d) =>
      RangeJoins.bandedBetween(
          Tables(s, d, "customer"), col("c_acctbal"),
          Tables(s, d, "supplier"), col("s_acctbal"), width = 100)
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_close"))
    },

    // J8: as-of (latest event at-or-before a cutoff, per key)
    // (reference: latest-metric-at-step lookups, maggy/trial.py:98-106).
    // max_by over struct(ts, event_id) = one hash aggregate with map-side
    // partials — no per-key window sort (same plan fix as A4).
    QueryDef("j8_asof_latest",
      """SELECT user_id, ts AS last_ts, event_type AS last_type
        |FROM events
        |WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1""".stripMargin) { (s, d) =>
      val ord = struct(col("ts"), col("event_id"))
      Tables(s, d, "events")
        .filter(col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy("user_id")
        .agg(
          max_by(col("ts"), ord).as("last_ts"),
          max_by(col("event_type"), ord).as("last_type"))
    },

    // J8b: true per-row AS-OF join — each purchase matched to the same
    // user's latest click at ts <= purchase ts (nulls kept: purchases with
    // no prior click). The oracle is DuckDB's native ASOF LEFT JOIN; Spark
    // has no asof operator, and the naive join+max_by explodes every
    // (purchase × earlier-click) pair before reducing. The scalable
    // formulation is union + one window pass: tag clicks kind=0 / purchases
    // kind=1, sort each user's merged timeline by (ts, kind), and carry the
    // last non-null click id forward — ONE shuffle of (user, ts, id) rows,
    // output read off the purchase rows. Clicks are deduped to one per
    // (user, ts) first so equal-ts ties cannot differ between engines.
    QueryDef("j8b_asof_join",
      """WITH c AS (SELECT user_id, ts, max(event_id) AS click_id FROM events
        |           WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.purchase_id, p.user_id, p.ts, c.click_id
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts""".stripMargin) { (s, d) =>
      val ev = Tables(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts"), col("click_id"),
          lit(null).cast("long").as("purchase_id"), lit(0).as("kind"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("click_id"),
          col("event_id").as("purchase_id"), lit(1).as("kind"))
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("carried", last(col("click_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("purchase_id"), col("user_id"), col("ts"), col("carried").as("click_id"))
    },

    // J10: null-safe equi join (<=> / IS NOT DISTINCT FROM) — null keys
    // MATCH null keys instead of silently dropping, the semantics config
    // stores and SCD dimensions need. Nulls are synthesized via nullif so
    // the check is non-vacuous: a plain = join would lose the BUILDING rows.
    QueryDef("j10_nullsafe_join",
      """WITH c AS (SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg FROM customer),
        |dim AS (SELECT DISTINCT seg FROM c)
        |SELECT dim.seg, count(*) AS n
        |FROM c JOIN dim ON c.seg IS NOT DISTINCT FROM dim.seg
        |GROUP BY dim.seg""".stripMargin) { (s, d) =>
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"))
      val dim = c.select(col("seg").as("dim_seg")).distinct()
      c.join(broadcast(dim), col("seg") <=> col("dim_seg"))
        .groupBy(col("dim_seg").as("seg"))
        .agg(count(lit(1)).as("n"))
    },

    // J12 setup: bucketed table layout — the 100 TB co-location technique
    // for RECURRING fact-fact joins. Both fact tables land bucketed (and
    // per-bucket sorted) on the join key with the same bucket count, so
    // every later equi-join on that key reads co-located buckets and
    // plans NO Exchange on either side (PlanSpec locks this). The write
    // pays one shuffle ONCE; production pipelines amortize it across every
    // downstream join/agg on the key — exactly like s8's partition layout
    // and sim_ivf_build, the cost is charged to this named setup line.
    // The declared result proves the layout round-trips losslessly.
    QueryDef("j12_bucket_layout",
      """SELECT (SELECT count(*) FROM lineitem) AS n_lineitem,
        |       (SELECT count(*) FROM orders) AS n_orders""".stripMargin) { (s, d) =>
      val (ordersTbl, lineitemTbl) = BucketedLayout.ensure(s, d)
      s.table(lineitemTbl).agg(count(lit(1)).as("n_lineitem"))
        .crossJoin(s.table(ordersTbl).agg(count(lit(1)).as("n_orders")))
    },

    // J12: co-located fact-fact join over the bucketed layout — the same
    // join+agg as j2 but with ZERO exchanges: both scans report their
    // bucket partitioning, so the sort-merge join starts directly on the
    // co-located buckets and only the 5-row final aggregate moves. The
    // `merge` hint pins SMJ (at test SF the orders side would broadcast
    // and dodge the demonstration; at 100 TB neither side broadcasts and
    // this IS the plan — and unlike a conf flip, a hint survives AQE
    // replanning). Identical declared result to a plain join, which is
    // what the oracle checks.
    QueryDef("j12_bucketed_join",
      """SELECT o_orderpriority,
        |       count(*) AS n_items,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,8))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val (ordersTbl, lineitemTbl) = BucketedLayout.ensure(s, d)
      s.table(lineitemTbl)
        .join(s.table(ordersTbl).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }
  )
}

/** Bucketed copies of the two fact tables, keyed by the join column —
  * built once per (corpus, JVM) and registered in the session catalog
  * (bucket metadata lives in the catalog, so a path read would not see
  * it). 16 buckets at any SF: bucket COUNT is a layout constant chosen
  * for the cluster (it must match across tables to co-locate), not a
  * per-corpus tunable. The pre-write repartition on the bucket key gives
  * one file per bucket, which keeps the per-bucket sort metadata usable.
  * The table dirs are a registry tmp dir released with the Scans family;
  * a later ensure drops and rewrites the tables. */
object BucketedLayout {
  val NumBuckets = 16
  private final case class Bucketed(d: String)
    extends Artifacts.Key(Artifacts.Family.Scans, "j12")

  def ensure(s: org.apache.spark.sql.SparkSession, d: String): (String, String) =
    Artifacts.memo(Bucketed(d)) {
      val suffix = math.abs(d.hashCode).toString
      val ordersTbl = s"graft_j12_orders_$suffix"
      val lineitemTbl = s"graft_j12_lineitem_$suffix"
      val base = Artifacts.dir(Bucketed(d))
      def write(name: String, df: org.apache.spark.sql.DataFrame, key: String): Unit = {
        if (s.catalog.tableExists(name)) s.sql(s"DROP TABLE $name")
        df.repartition(NumBuckets, col(key))
          .write.mode("overwrite")
          .bucketBy(NumBuckets, key).sortBy(key)
          .option("path", s"$base/$name")
          .saveAsTable(name)
      }
      write(ordersTbl, Tables(s, d, "orders")
        .select("o_orderkey", "o_orderpriority"), "o_orderkey")
      write(lineitemTbl, Tables(s, d, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount"), "l_orderkey")
      (ordersTbl, lineitemTbl)
    }
}

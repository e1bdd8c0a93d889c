package graft.testqueries

import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.ops.BloomPrune
import graft.plans.ZOrderExpr

/** Physical-layout and table-maintenance operators under the oracle
  * gate: the Z-order curve key ([[graft.plans.ZOrderExpr]] — the
  * multi-dimensional data-skipping layout, see [[graft.ops.Layout]]),
  * explicit bloom-filter join pruning ([[graft.ops.BloomPrune]] —
  * runtime row-level filtering as a first-class operator), and
  * incremental aggregate maintenance ([[graft.ops.IncrementalAgg]] —
  * merge-don't-recompute). All exactly checkable: the Morton interleave
  * is pure integer bit arithmetic the DuckDB mirror replays with the
  * identical magic-number chain; a bloom-pruned exact join is
  * bit-identical to the plain join (false positives cleared by the join
  * itself); a monoid-state merge is bit-identical to the one-shot
  * aggregation.
  */
object LayoutQueries {
  import Tables._

  val all: Seq[QueryDef] = Seq(

    // The 2-D Morton interleave evaluated over the whole corpus (the
    // layout key zorderBy sorts by), aggregated per curve bucket so the
    // oracle checks every row's z-value through exact integer sums.
    // Dims bounded to 15 bits -> z < 2^30, buckets <= 4096 (bounded).
    QueryDef("q66_zorder_curve",
      (s, d) => lineitem(s, d)
        .select(ZOrderExpr.zorder(
          col("l_partkey") % 32768, col("l_suppkey") % 32768).as("z"))
        .groupBy(shiftright(col("z"), 18).as("z_bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"),
          sum(col("z")).as("z_sum"))
        .orderBy("z_bucket"),
      Some("""WITH d AS (
        SELECT CAST(l_partkey % 32768 AS BIGINT) AS x,
               CAST(l_suppkey % 32768 AS BIGINT) AS y
        FROM lineitem),
      s1 AS (SELECT (x | (x << 16)) & 281470681808895 AS xa,
                    (y | (y << 16)) & 281470681808895 AS ya FROM d),
      s2 AS (SELECT (xa | (xa << 8)) & 71777214294589695 AS xb,
                    (ya | (ya << 8)) & 71777214294589695 AS yb FROM s1),
      s3 AS (SELECT (xb | (xb << 4)) & 1085102592571150095 AS xc,
                    (yb | (yb << 4)) & 1085102592571150095 AS yc FROM s2),
      s4 AS (SELECT (xc | (xc << 2)) & 3689348814741910323 AS xd,
                    (yc | (yc << 2)) & 3689348814741910323 AS yd FROM s3),
      s5 AS (SELECT (xd | (xd << 1)) & 6148914691236517205 AS xs,
                    (yd | (yd << 1)) & 6148914691236517205 AS ys FROM s4),
      zt AS (SELECT xs + 2 * ys AS z FROM s5)
      SELECT z >> 18 AS z_bucket, count(*) AS n_rows,
        min(z) AS z_min, max(z) AS z_max, CAST(sum(z) AS BIGINT) AS z_sum
      FROM zt GROUP BY z_bucket ORDER BY z_bucket""")),

    // Bloom-pruned exact join: orders probe-filtered by a distributed
    // bloom over the selective customer subset's keys, then exactly
    // joined (false positives cleared) — result == the plain join the
    // oracle runs. The bloom build + probe execute inside the declared
    // query, so the correctness row exercises BloomFilterAggregate AND
    // BloomFilterMightContain end-to-end.
    QueryDef("q67_bloom_prune_join",
      (s, d) => {
        val cust = customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("c_acctbal") > 7500)
          .select(col("c_custkey"))
        BloomPrune.prunedEquiJoin(orders(s, d), cust,
            col("o_custkey"), col("c_custkey"), expectedItems = 100000L)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            Fns.sumDec(col("o_totalprice")).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
          AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 7500
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Incremental aggregate maintenance: orders split into two eras at
    // a date cutoff; the declared query folds the late era's stats into
    // the early era's via IncrementalAgg.merge (untouched groups pass
    // through un-shuffled) — the oracle recomputes the whole table in
    // one shot. Equality IS the merge-vs-recompute contract.
    QueryDef("q68_incremental_agg",
      (s, d) => {
        import graft.ops.IncrementalAgg
        val o = orders(s, d)
        val cutoff = lit("1997-01-01").cast("timestamp")
        val keys = Seq("o_orderstatus", "o_orderpriority")
        val prev = IncrementalAgg.statsOf(
          o.filter(col("o_orderdate") < cutoff), keys, "o_totalprice")
        val delta = IncrementalAgg.statsOf(
          o.filter(col("o_orderdate") >= cutoff), keys, "o_totalprice")
        IncrementalAgg.merge(prev, delta, keys)
          .select(col("o_orderstatus"), col("o_orderpriority"),
            col("n_rows"), col("sum_v").cast("double").as("sum_v"),
            col("min_v"), col("max_v"))
          .orderBy("o_orderstatus", "o_orderpriority")
      },
      Some("""SELECT o_orderstatus, o_orderpriority,
        count(*) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_v,
        min(o_totalprice) AS min_v, max(o_totalprice) AS max_v
        FROM orders GROUP BY o_orderstatus, o_orderpriority
        ORDER BY o_orderstatus, o_orderpriority""")),

    // Additive schema evolution under the oracle gate (the reference's
    // evolve_*_schema, lakehouse.py:281-336): era-1 rows are written
    // WITHOUT column w, the schema evolves, era-2 rows carry it, and
    // the plain table read must surface era-1 rows with a typed NULL w —
    // proven by n_w/min_w aggregating only era-2 values. The DuckDB
    // mirror reproduces both eras from the same source table with a
    // CASE standing in for the NULL-filled column. 1/5 of orders keeps
    // the per-pass write cost benchable.
    QueryDef("q75_schema_evolution",
      (s, d) => {
        import org.apache.spark.sql.types._
        val lake = new graft.lake.Lakehouse(s,
          java.nio.file.Files.createTempDirectory("q75wh").toString)
        val v1 = StructType(Seq(
          StructField("data_set_id", StringType, nullable = false),
          StructField("problem_id", StringType, nullable = false),
          StructField("k", LongType, nullable = false),
          StructField("v", DecimalType(15, 2), nullable = true)))
        val v2 = lake.evolveSchema(v1,
          StructField("w", StringType, nullable = true))
        val o = orders(s, d).filter(col("o_orderkey") % 5 === 0)
          .select(lit("era").as("data_set_id"),
            concat(lit("p"), (col("o_custkey") % 5).cast("string"))
              .as("problem_id"),
            col("o_orderkey").as("k"),
            col("o_totalprice").cast("decimal(15,2)").as("v"),
            col("o_orderpriority").as("w"))
        lake.append("evo", o.filter(col("k") % 10 === 0), v1)
        lake.append("evo", o.filter(col("k") % 10 === 5), v2)
        lake.load("evo")
          .groupBy("problem_id")
          .agg(count(lit(1)).as("n_rows"),
            count(col("w")).as("n_w"),
            min(col("w")).as("min_w"),
            sum(col("v")).cast("double").as("sum_v"),
            max(col("k")).as("max_k"))
          .orderBy("problem_id")
      },
      Some("""SELECT 'p' || CAST(o_custkey % 5 AS VARCHAR) AS problem_id,
        COUNT(*) AS n_rows,
        COUNT(CASE WHEN o_orderkey % 10 = 5 THEN o_orderpriority END)
          AS n_w,
        MIN(CASE WHEN o_orderkey % 10 = 5 THEN o_orderpriority END)
          AS min_w,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
          AS sum_v,
        MAX(o_orderkey) AS max_k
      FROM orders WHERE o_orderkey % 5 = 0
      GROUP BY 1 ORDER BY 1""")),

    // Snapshot-lite time travel under the oracle gate (the Iceberg
    // `VERSION AS OF` analog, olake/lakehouse.py:28-35): three commits
    // — append the even-doc half (v1), append the odd half (v2), then
    // a destructive deleteWhere(lang='en') (v3) whose rewrite commits
    // new files in place of the pre-delete ones, which stay on disk for
    // v1/v2. The declared query reads all three versions back, so
    // manifest replay and delete semantics are hash-verified
    // against DuckDB recomputing each version's state from the source
    // table. Documents is the small table (~500 rows at sf0.01), so the
    // per-pass write cost stays benchable, like q75.
    QueryDef("q77_time_travel",
      (s, d) => {
        import org.apache.spark.sql.types._
        val lake = QueryDef.setupOnce(s, d, "q77") {
          val l = new graft.lake.Lakehouse(s,
            java.nio.file.Files.createTempDirectory("q77wh").toString)
          val sch = StructType(Seq(
            StructField("data_set_id", StringType, nullable = false),
            StructField("problem_id", StringType, nullable = false),
            StructField("doc_id", LongType, nullable = true),
            StructField("lang", StringType, nullable = true),
            StructField("n_chars", LongType, nullable = true)))
          val docs = documents(s, d).select(
            lit("docs").as("data_set_id"),
            col("source").as("problem_id"),
            col("doc_id"), col("lang"), col("n_chars"))
          l.append("docs", docs.filter(col("doc_id") % 2 === 0), sch,
            sortCols = Seq("doc_id"))                            // v1
          l.append("docs", docs.filter(col("doc_id") % 2 =!= 0), sch,
            sortCols = Seq("doc_id"))                            // v2
          l.deleteWhere("docs", col("lang") === "en")            // v3
          l
        }
        def stats(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy("lang")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .withColumn("snap", lit(tag))
        stats(lake.load("docs", 1), "v1")
          .unionByName(stats(lake.load("docs", 2), "v2"))
          .unionByName(stats(lake.load("docs"), "v3"))
          .select("snap", "lang", "n_docs", "sum_chars")
          .orderBy("snap", "lang")
      },
      Some("""SELECT 'v1' AS snap, lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
      UNION ALL
      SELECT 'v2', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
      FROM documents GROUP BY lang
      UNION ALL
      SELECT 'v3', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
      FROM documents WHERE lang <> 'en' GROUP BY lang
      ORDER BY snap, lang""")),

    // CDC incremental read (the Iceberg incremental-append-scan
    // analog): three append commits slice documents by doc_id % 3; the
    // declared query reads the v1->v3 and v2->v3 deltas via the
    // manifest file-set difference — scanning ONLY the files new to
    // each interval, never diffing snapshots — and the oracle
    // recomputes both deltas from the source table. At 100 TB this is
    // the "what arrived since v" primitive whose cost is sized by the
    // delta, not the table.
    QueryDef("q78_incremental_read",
      (s, d) => {
        import org.apache.spark.sql.types._
        val lake = QueryDef.setupOnce(s, d, "q78") {
          val l = new graft.lake.Lakehouse(s,
            java.nio.file.Files.createTempDirectory("q78wh").toString)
          val sch = StructType(Seq(
            StructField("data_set_id", StringType, nullable = false),
            StructField("problem_id", StringType, nullable = false),
            StructField("doc_id", LongType, nullable = true),
            StructField("lang", StringType, nullable = true),
            StructField("n_chars", LongType, nullable = true)))
          val docs = documents(s, d).select(
            lit("docs").as("data_set_id"),
            col("source").as("problem_id"),
            col("doc_id"), col("lang"), col("n_chars"))
          for (r <- 0 to 2)                                // v1, v2, v3
            l.append("docs", docs.filter(col("doc_id") % 3 === r), sch,
              sortCols = Seq("doc_id"))
          l
        }
        def stats(df: org.apache.spark.sql.DataFrame, tag: String) =
          df.groupBy("lang")
            .agg(count(lit(1)).as("n_docs"),
              sum(col("n_chars")).as("sum_chars"))
            .withColumn("delta", lit(tag))
        stats(lake.incrementalRead("docs", 1, 3), "v1_to_v3")
          .unionByName(stats(lake.incrementalRead("docs", 2, 3),
            "v2_to_v3"))
          .select("delta", "lang", "n_docs", "sum_chars")
          .orderBy("delta", "lang")
      },
      Some("""SELECT 'v1_to_v3' AS delta, lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE doc_id % 3 <> 0 GROUP BY lang
      UNION ALL
      SELECT 'v2_to_v3', lang, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
      FROM documents WHERE doc_id % 3 = 2 GROUP BY lang
      ORDER BY delta, lang""")),

    // Row-level change diff + rollback under the oracle gate: append
    // halves (v1, v2), deleteWhere(lang='en') (v3), then roll the
    // table back to v2 (v4 — a NEW commit of v2's file list, history
    // preserved, no file moved). The declared query diffs v2->v3 (pure
    // deletes of the 'en' rows, computed AFTER the rollback, so reading
    // rolled-past versions is what's being verified) and reads the
    // post-rollback latest state; the oracle recomputes both from the
    // source table.
    QueryDef("q79_rollback_diff",
      (s, d) => {
        import org.apache.spark.sql.types._
        val lake = QueryDef.setupOnce(s, d, "q79") {
          val l = new graft.lake.Lakehouse(s,
            java.nio.file.Files.createTempDirectory("q79wh").toString)
          val sch = StructType(Seq(
            StructField("data_set_id", StringType, nullable = false),
            StructField("problem_id", StringType, nullable = false),
            StructField("doc_id", LongType, nullable = true),
            StructField("lang", StringType, nullable = true),
            StructField("n_chars", LongType, nullable = true)))
          val docs = documents(s, d).select(
            lit("docs").as("data_set_id"),
            col("source").as("problem_id"),
            col("doc_id"), col("lang"), col("n_chars"))
          l.append("docs", docs.filter(col("doc_id") % 2 === 0), sch,
            sortCols = Seq("doc_id"))                          // v1
          l.append("docs", docs.filter(col("doc_id") % 2 =!= 0), sch,
            sortCols = Seq("doc_id"))                          // v2
          l.deleteWhere("docs", col("lang") === "en")          // v3
          l.rollbackTo("docs", 2)                              // v4
          l
        }
        // COUNT-form diff: this consumer aggregates, so reading the
        // row-expanded changeDiff would materialize |diff| rows via
        // Generate(ReplicateRows) just to count them back down
        // (PlanShapeSpec bans Aggregate-over-ReplicateRows); the
        // counts form carries the multiplicity instead.
        val diff = lake.changeDiffCounts("docs", 2, 3)
          .groupBy("_change", "lang")
          .agg(sum(col("n")).as("n_docs"),
            sum(col("n_chars") * col("n")).as("sum_chars"))
          .withColumn("snap", lit("diff_v2_v3"))
        val live = lake.load("docs").groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("_change", lit("live"))
          .withColumn("snap", lit("after_rollback"))
        diff.unionByName(live)
          .select("snap", "_change", "lang", "n_docs", "sum_chars")
          .orderBy("snap", "_change", "lang")
      },
      Some("""SELECT 'diff_v2_v3' AS snap, 'delete' AS _change, lang,
        COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents WHERE lang = 'en' GROUP BY lang
      UNION ALL
      SELECT 'after_rollback', 'live', lang, COUNT(*),
        CAST(SUM(n_chars) AS BIGINT)
      FROM documents GROUP BY lang
      ORDER BY snap, _change, lang""")),

    // Materialized stats maintained through CDC versions: the stored
    // GROUP BY refreshed after each commit — full build at v1,
    // DELTA-scan merge at v2 (append-only interval), full-recompute
    // fallback at v3 (a delete makes merge impossible). The final
    // state the oracle hashes is the product of all three refresh
    // modes chained, so merge exactness AND the fallback decision are
    // both under the gate. At 100 TB this is the nightly-GROUP-BY
    // replacement: refresh cost ∝ one append's delta.
    QueryDef("q80_materialized_stats",
      (s, d) => {
        import org.apache.spark.sql.types._
        val lake = QueryDef.setupOnce(s, d, "q80") {
          val l = new graft.lake.Lakehouse(s,
            java.nio.file.Files.createTempDirectory("q80wh").toString)
          val sch = StructType(Seq(
            StructField("data_set_id", StringType, nullable = false),
            StructField("problem_id", StringType, nullable = false),
            StructField("k", LongType, nullable = false),
            StructField("pri", StringType, nullable = true),
            StructField("val", DecimalType(15, 2), nullable = true)))
          val o = orders(s, d).filter(col("o_orderkey") % 5 === 0)
            .select(lit("mv").as("data_set_id"),
              col("o_orderstatus").as("problem_id"),
              col("o_orderkey").as("k"),
              col("o_orderpriority").as("pri"),
              col("o_totalprice").cast("decimal(15,2)").as("val"))
          val keys = Seq("problem_id", "pri")
          l.append("ord", o.filter(col("k") % 3 === 0), sch)      // v1
          l.refreshStats("mv_ord", "ord", keys, "val")            // full
          l.append("ord", o.filter(col("k") % 3 === 1), sch)      // v2
          l.refreshStats("mv_ord", "ord", keys, "val")            // incr
          l.deleteWhere("ord", col("pri") === "1-URGENT")         // v3
          l.refreshStats("mv_ord", "ord", keys, "val")            // full
          l
        }
        lake.readStats("mv_ord")
          .select(col("problem_id"), col("pri"), col("n_rows"),
            col("sum_v").cast("double").as("sum_v"),
            col("min_v").cast("double").as("min_v"),
            col("max_v").cast("double").as("max_v"))
          .orderBy("problem_id", "pri")
      },
      Some("""SELECT o_orderstatus AS problem_id,
        o_orderpriority AS pri, COUNT(*) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
          AS sum_v,
        CAST(MIN(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
          AS min_v,
        CAST(MAX(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE)
          AS max_v
      FROM orders
      WHERE o_orderkey % 5 = 0 AND o_orderkey % 3 < 2
        AND o_orderpriority <> '1-URGENT'
      GROUP BY 1, 2 ORDER BY 1, 2""")))
}

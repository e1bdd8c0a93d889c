package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.streaming.EventsStreaming

class ExtensionOpsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  test("ivf topk finds the identical vector through its cell") {
    val corpus = (0L until 40L).map { i =>
      val v = Array.tabulate(8)(j =>
        math.sin(i * 7 + j).toFloat)
      (i, v)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 5L)
    val out = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 4).orderBy("rank").collect()
    // with nProbe = nCells (exhaustive probing) the query's own cell is
    // certainly probed; vec 5's identical... nearest is deterministic
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("c_id") != 5L))
    assert(out.map(_.getAs[Int]("rank")).toSeq ==
      (1 to out.length).toSeq)
  }

  test("adaptive ivf: coverage=1.0 equals brute force; tiny coverage " +
      "equals probe-1; probed mass per query covers the target") {
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 6L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // coverage 1.0 probes every non-empty cell -> exact top-k
    val exact = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", 3))
    val full = pairs(Similarity.ivfTopKAdaptive(corpus, queries,
      "vec_id", "embedding", 3, nCells = 4, coverage = 1.0))
    assert(full == exact,
      "coverage=1.0 must reduce to the exact scan")
    // epsilon coverage stops at minProbe cells = classic probe-1
    val p1 = pairs(Similarity.ivfTopK(corpus, queries, "vec_id",
      "embedding", 3, nCells = 4, nProbe = 1))
    val eps = pairs(Similarity.ivfTopKAdaptive(corpus, queries,
      "vec_id", "embedding", 3, nCells = 4, coverage = 1e-9))
    assert(eps == p1, "epsilon coverage must equal fixed probe=1")
  }

  test("ivf centroids: deterministic across runs, Lloyd rounds move " +
      "centroids to cluster means") {
    // 4 well-separated clusters; seeds are hash-arbitrary rows, so
    // refined centroids must land near the TRUE cluster means
    val rnd = new scala.util.Random(47)
    val centers = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val corpus = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding")
    def run() = Similarity
      .ivfCentroids(corpus, "vec_id", "embedding", 4, lloydRounds = 3)
      .orderBy("cent_id").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("cv").toVector)
    val a = run()
    val b = run()
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq,
      "seed choice must be deterministic")
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      va.zip(vb).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, "refinement must be stable")
      }
    }
    // every refined centroid sits in exactly one cluster's direction
    // (dominant axis ~10, others ~0.25 noise mean)
    val axes = a.map { case (_, v) => v.indexOf(v.max) }.toSet
    assert(a.forall { case (_, v) => v.max > 8.0 &&
      v.count(_ > 1.0) == 1 })
    // distinct clusters get distinct centroids when seeding allows:
    // with 3 Lloyd rounds the empty-cell fallback keeps duplicates
    // possible, but the dominant axes found must be a subset of the 4
    assert(axes.subsetOf(Set(0, 1, 2, 3)))
  }

  test("ivf centroids are BIT-identical across partitionings (exact " +
      "micro-unit means, round 11)") {
    // a plain avg(double) gives partitioning-dependent summation order
    // and so last-bit-different centroids; the integer micro-sum form
    // must produce identical doubles from 1-partition and 13-partition
    // layouts of the same rows — the property the q116 DuckDB replay
    // stands on
    val rnd = new scala.util.Random(11)
    val rows = (0L until 500L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val one = rows.toDF("vec_id", "embedding").coalesce(1)
    val many = rows.toDF("vec_id", "embedding").repartition(13)
    def cvs(df: org.apache.spark.sql.DataFrame) = Similarity
      .ivfCentroids(df, "vec_id", "embedding", 5, lloydRounds = 2)
      .orderBy("cent_id").collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("cv").toVector)
    val a = cvs(one)
    val b = cvs(many)
    assert(a.map(_._1).toSeq == b.map(_._1).toSeq)
    a.zip(b).foreach { case ((_, va), (_, vb)) =>
      assert(va == vb, "centroids must be bit-identical, not just close")
    }
  }

  test("annTopK selector: clustered corpus picks IVF, uniform corpus " +
      "picks the int8 scan, output matches the chosen path (round 12)") {
    val rnd = new scala.util.Random(19)
    // clustered: 4 tight, well-separated clusters → they collapse into
    // few cells, leaving most of the 16 empty → high concentration
    val centers = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f), Array(0f, 0f, 0f, 10f))
    val clustered = (0L until 120L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextFloat() * 0.5f))
    }.toDF("vec_id", "embedding").localCheckpoint(true)
    // uniform: structureless box noise → all 16 cells near-equal mass
    val uniform = (0L until 400L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val selC = Similarity.annSelect(clustered, "vec_id", "embedding",
      nCells = 16)
    assert(selC.useIvf, s"clustered corpus must pick IVF " +
      s"(skew=${selC.skew})")
    assert(selC.skew >= 1.5)
    val selU = Similarity.annSelect(uniform, "vec_id", "embedding",
      nCells = 16)
    assert(!selU.useIvf, s"uniform corpus must pick the int8 scan " +
      s"(skew=${selU.skew})")
    assert(selU.skew < 1.5)
    // the selected output IS the chosen path's output, bit-for-bit
    val qC = clustered.filter(col("vec_id") < 5)
    assert(rows(Similarity.annTopK(clustered, qC, "vec_id",
      "embedding", k = 3, nCells = 16)) ==
      rows(Similarity.ivfTopKAdaptive(clustered, qC, "vec_id",
        "embedding", k = 3, nCells = 16)))
    val qU = uniform.filter(col("vec_id") < 5)
    assert(rows(Similarity.annTopK(uniform, qU, "vec_id", "embedding",
      k = 3, nCells = 16)) ==
      rows(Similarity.bruteForceTopKQuantized(uniform, qU, "vec_id",
        "embedding", k = 3)))
  }

  test("quantized-scan IVF: probe prefix identical to the float form, " +
      "sims perturbed by int8 rounding only, deterministic (round 12)") {
    val corpus = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7 + j).toFloat))
    }.toDF("vec_id", "embedding").localCheckpoint(true)
    val queries = corpus.filter(col("vec_id") < 6L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // k ≥ corpus size makes the output the whole probed CANDIDATE set,
    // independent of sim ordering — so set equality proves the probe
    // prefix did not move with the scan representation
    val candQ = Similarity.ivfTopKAdaptive(corpus, queries, "vec_id",
      "embedding", k = 1000, nCells = 4, coverage = 0.25,
      quantizedScan = true)
    val candF = Similarity.ivfTopKAdaptive(corpus, queries, "vec_id",
      "embedding", k = 1000, nCells = 4, coverage = 0.25)
    assert(pairs(candQ) == pairs(candF),
      "quantized scan must probe the exact same cell prefix")
    // per-candidate sims differ only by int8 rounding (8-dim vectors:
    // well under 0.03 in cosine)
    val drift = candQ.select(col("q_id"), col("c_id"),
        col("sim").as("sq"))
      .join(candF.select(col("q_id"), col("c_id"), col("sim").as("sf")),
        Seq("q_id", "c_id"))
      .agg(max(abs(col("sq") - col("sf")))).head().getDouble(0)
    assert(drift < 0.03, s"int8 sim drift $drift exceeds the bound")
    // deterministic across runs (quantization is pure column math)
    val r1 = Similarity.ivfTopKAdaptive(corpus, queries, "vec_id",
      "embedding", k = 3, nCells = 4, coverage = 0.25,
      quantizedScan = true).collect().map(_.toSeq).toSeq
    val r2 = Similarity.ivfTopKAdaptive(corpus, queries, "vec_id",
      "embedding", k = 3, nCells = 4, coverage = 0.25,
      quantizedScan = true).collect().map(_.toSeq).toSeq
    assert(r1 == r2)
  }

  test("streaming interval join pairs events within the window") {
    val srcDir = tmpDir("ij-src")
    val outDir = tmpDir("ij-out")
    val ckDir = tmpDir("ij-ck")
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (1L, ts("2026-01-01 10:00:00"), 7L),
      (2L, ts("2026-01-01 10:02:00"), 7L),
      (3L, ts("2026-01-01 10:30:00"), 7L),
      (4L, ts("2026-01-01 10:03:00"), 8L))
      .toDF("event_id", "ts", "user_id").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    def src = spark.readStream.schema(schema).parquet(srcDir)
    val joined = EventsStreaming.intervalJoin(src, src, "user_id")
    assert(joined.isStreaming)
    val q = joined.writeStream
      .option("checkpointLocation", ckDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", outDir).start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(outDir)
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // user 7: event 2 within 5 min after event 1; event 3 is 30 min out;
    // user 8's event 4 never joins across users
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 1L && p._2 == 3L))
    assert(!out.exists(p => p._2 == 4L && p._1 != 4L))
  }

  test("left-outer stream-stream join emits unmatched rows after watermark") {
    val srcDir = tmpDir("oj-src")
    val outDir = tmpDir("oj-out")
    val ckDir = tmpDir("oj-ck")
    def ts(s: String) = Timestamp.valueOf(s)
    Seq(
      (1L, ts("2026-01-01 10:00:00"), 7L), // matched by event 2
      (2L, ts("2026-01-01 10:02:00"), 7L),
      (5L, ts("2026-01-01 10:00:00"), 9L), // no partner: emits with NULL
      // far-future sentinel pushes the watermark past 10:00 + window +
      // delay so the unmatched row's state can close and emit
      (6L, ts("2026-01-01 13:00:00"), 1L))
      .toDF("event_id", "ts", "user_id").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    def src = spark.readStream.schema(schema).parquet(srcDir)
    val joined = EventsStreaming.intervalJoin(src, src, "user_id",
      joinType = "left_outer")
    def run(): Unit = {
      val q = joined.writeStream
        .option("checkpointLocation", ckDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", outDir).start()
      q.awaitTermination(120000)
    }
    run()
    // a second AvailableNow pass (checkpointed, no new files) gives the
    // advanced watermark a batch to evict + emit remaining unmatched state
    run()
    val rows = spark.read.parquet(outDir)
      .select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(rows.contains((1L, 2L)))         // matched pair survives
    assert(rows.contains((5L, -1L)))        // unmatched left emitted w/ NULL
    assert(!rows.exists(p => p._1 == 5L && p._2 != -1L))
  }
}

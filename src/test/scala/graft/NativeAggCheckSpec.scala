package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.Fns
import graft.plans.{KeyedMinAgg, ObservationStepAgg, SigListAgg}
import graft.queries.CanonicalQueries

/** Scalacheck properties for the native TypedImperativeAggregates:
  * generated inputs (Unicode collation edges, NULL ords/values, empty
  * strings, duplicate keys), generated PARTITION COUNTS and generated
  * per-partition ROW ORDER, always compared against the composed
  * built-in forms they replaced. The seeded adversarial fixtures live
  * in PlansSpec; these properties exist so merge-boundary placement is
  * not chosen by a hand-picked seed but searched by the generator —
  * a partial-merge bug (buffer order leaking into the result, a
  * non-associative combine) fails here even if no fixture seed hits it.
  */
class NativeAggCheckSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  /** UTF-16/UTF-8 order divergence (U+FFFF vs supplementary plane),
    * JSON-escaping hazards, empties, controls, NULL. */
  private val torture: Seq[String] = Seq(
    "a", "", "\"quote\"", "back\\slash", "nl\nlf\ttabvt",
    "中文", "￿", "𐀀" /* U+10000 */, "😀", "z~",
    " lead", "trail ", null)

  private val valueGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf(torture),
    2 -> Gen.asciiPrintableStr.map(_.take(12)),
    1 -> Gen.const(null: String))

  /** A data set + a partitioning: rows, shuffle seed, partition count.
    * The property must hold for EVERY (seed, k) — that is the
    * adversarial-merge claim. */
  private case class Shaped[A](rows: List[A], seed: Long, k: Int)

  private def shapedGen[A](row: Gen[A]): Gen[Shaped[A]] = for {
    n <- Gen.choose(20, 120)
    rows <- Gen.listOfN(n, row)
    seed <- Gen.choose(0L, 1000000L)
    k <- Gen.choose(1, 32)
  } yield Shaped(rows, seed, k)

  private def shape(df: DataFrame, s: Shaped[_]): DataFrame =
    df.orderBy(rand(s.seed)).repartition(s.k)

  /** GRAFT_CHECK_TRIALS multiplies the per-property trial count for
    * deep local sweeps (e.g. =20 → 240 trials); CI default keeps the
    * suite fast. Failures print the full scalacheck status (args +
    * shrink result) before the assert. */
  private def check(prop: Prop, trials: Int = 12): Unit = {
    val mult = sys.env.getOrElse("GRAFT_CHECK_TRIALS", "1").toInt
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(trials * mult).withWorkers(1), prop)
    if (!res.passed) println(s"SCALACHECK-FAILURE: ${res.status}")
    assert(res.passed, res.status.toString)
  }

  test("traceSig (one-segment SigListAgg) == md5(to_json(orderedCollect)) " +
      "for all partitionings (scalacheck)") {
    val row = for {
      g <- Gen.choose(0, 7).map(i => s"g$i")
      o <- Gen.frequency(9 -> Gen.choose(0, 5).map(Option(_)),
        1 -> Gen.const(Option.empty[Int]))
      v <- valueGen
    } yield (g, o, v)
    check(Prop.forAll(shapedGen(row)) { s =>
      val df = shape(s.rows.toDF("g", "o", "v"), s)
      df.groupBy("g").agg(
          CanonicalQueries.traceSig(col("o"), col("v")).as("native"),
          md5(to_json(Fns.orderedCollect(col("o"), col("v"))))
            .as("composed"))
        .collect().forall(r => r.getString(1) == r.getString(2))
    })
  }

  /** (fused, composed) per-group fingerprints of `df(g, seg, o, v)`:
    * SigListAgg against the two-stage chain it replaces. */
  private def sigListForms(df: DataFrame)
      : (Map[String, String], Map[String, String]) = {
    val fused = df.groupBy("g")
      .agg(to_json(SigListAgg.sigs(col("seg"), col("o"), col("v")))
        .as("fp"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val s1 = df.groupBy("g", "seg")
      .agg(to_json(Fns.orderedCollect(col("o"), col("v"))).as("sig"))
    val composed = s1.groupBy("g")
      .agg(to_json(Fns.orderedCollect(col("seg"), md5(col("sig"))))
        .as("fp"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    (fused, composed)
  }

  test("SigListAgg == composed two-stage fingerprint chain for all " +
      "partitionings (scalacheck)") {
    // the segment key is drawn both ways: q09's bigint, and clustering's
    // struct(test, run) with NULL fields (struct order, field by field)
    val name = Gen.frequency(9 -> Gen.choose(0, 2).map(i => s"t$i"),
      1 -> Gen.const(null: String))
    val row = for {
      g <- Gen.choose(0, 5).map(i => s"impl$i")
      seg <- Gen.frequency(9 -> Gen.choose(0L, 4L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long]))
      test <- name
      run <- name
      o <- Gen.frequency(9 -> Gen.choose(0, 5).map(Option(_)),
        1 -> Gen.const(Option.empty[Int]))
      v <- valueGen
    } yield (g, seg, test, run, o, v)
    Seq(col("seg"), struct(col("test"), col("run"))).foreach { seg =>
      check(Prop.forAll(shapedGen(row)) { s =>
        val df = s.rows.toDF("g", "seg", "test", "run", "o", "v")
          .select(col("g"), seg.as("seg"), col("o"), col("v"))
        val (fused, composed) = sigListForms(shape(df, s))
        fused == composed
      })
    }
  }

  test("SigListAgg == composed chain on one group of 2,049 segments") {
    // The property draws at most 5 segments per group; q09 has ~600 per
    // supplier. One deterministic group of 2,048 keyed segments plus the
    // NULL segment, 1-3 rows each, ~10% NULL ords, split over 4
    // partitions so partial buffers merge.
    val rng = new scala.util.Random(20260)
    val rows = for {
      seg <- (0L until 2048L).map(Option(_)) :+ None
      _ <- 0 until 1 + rng.nextInt(3)
    } yield ("big", seg,
      if (rng.nextInt(10) == 0) None else Some(rng.nextInt(4)),
      torture(rng.nextInt(torture.size)))
    val small = Seq(("small", Some(1L), Some(0), "a"),
      ("small", None, None, null))
    val df = (rows ++ small).toDF("g", "seg", "o", "v")
      .orderBy(rand(3)).repartition(4)
    val (fused, composed) = sigListForms(df)
    assert(fused.keySet == Set("big", "small"))
    assert(fused("big").count(_ == ',') + 1 == 2049,
      "one md5 per segment, NULL segment included")
    assert(fused == composed)
  }

  test("KeyedMinAgg == groupBy+min ground truth for all partitionings " +
      "(scalacheck)") {
    val row = for {
      g <- Gen.choose(0, 5).map(i => s"k$i")
      key <- valueGen
      v <- valueGen
    } yield (g, key, v)
    check(Prop.forAll(shapedGen(row)) { s =>
      val df = shape(s.rows.toDF("g", "key", "v"), s)
      val got = df.groupBy("g")
        .agg(KeyedMinAgg.keyedMin(col("key"), col("v")).as("m"))
        .select(col("g"), explode(col("m")).as(Seq("key", "minv")))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val truth = df.filter(col("key").isNotNull && col("v").isNotNull)
        .groupBy("g", "key").agg(min(col("v")).as("minv"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      got == truth
    })
  }

  test("ObservationStepAgg == composed five-aggregate regroup for all " +
      "partitionings (scalacheck)") {
    // X is a spreadsheet column coordinate — non-null by construction
    // (arena.py cell exports); VALUE/EXECUTIONTIME are nullable.
    val row = for {
      g <- Gen.choose(0, 5).map(i => s"s$i")
      x <- Gen.choose(0, 9)
      typ <- Gen.oneOf("op", "input_value", "value", "meta")
      v <- valueGen
      et <- Gen.frequency(3 -> Gen.choose(0, 999).map(i =>
        Option(i.toDouble)), 1 -> Gen.const(Option.empty[Double]))
      oracle <- Gen.oneOf(true, false)
    } yield (g, x, typ, v, et, oracle)
    check(Prop.forAll(shapedGen(row)) { s =>
      val df = shape(
        s.rows.toDF("g", "x", "typ", "v", "et", "oracle"), s)
      val native = df.groupBy("g")
        .agg(ObservationStepAgg.agg(col("x"), col("typ"), col("v"),
          col("et"), col("oracle")).as("c"))
        .select(col("g"), col("c.inputs"), col("c.output"),
          col("c.operation"), col("c.execution_time_ms"),
          col("c.specified_oracle"))
        .collect().map(r => r.getString(0) ->
          (r.getString(1), r.getString(2), r.getString(3),
            if (r.isNullAt(4)) null else r.getDouble(4),
            if (r.isNullAt(5)) null else r.getBoolean(5))).toMap
      val composed = df.groupBy("g")
        .agg(
          nullif(Fns.orderedStringAgg(col("x"),
            when(col("typ") === "input_value", col("v")), ","), lit(""))
            .as("inputs"),
          nullif(Fns.orderedStringAgg(col("x"),
            when(col("typ") === "value", col("v")), ","), lit(""))
            .as("output"),
          max(when(col("typ") === "op", col("v"))).as("operation"),
          max(col("et")).cast("double").as("execution_time_ms"),
          max(col("oracle")).as("specified_oracle"))
        .collect().map(r => r.getString(0) ->
          (r.getString(1), r.getString(2), r.getString(3),
            if (r.isNullAt(4)) null else r.getDouble(4),
            if (r.isNullAt(5)) null else r.getBoolean(5))).toMap
      native == composed
    }, trials = 10)
  }

  test("KmvAgg == sorted-distinct-take-k ground truth for all " +
      "partitionings (scalacheck)") {
    import graft.plans.KmvAgg
    // duplicate-heavy keys so the dedup-in-buffer path is exercised
    // across merge boundaries; NULL hashes must be skipped
    val row = for {
      g <- Gen.choose(0, 4).map(i => s"g$i")
      v <- Gen.frequency(
        9 -> Gen.choose(0L, 40L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long]))
    } yield (g, v)
    check(Prop.forAll(shapedGen(row)) { s =>
      val df = shape(s.rows.toDF("g", "v"), s)
      val h = Fns.hashBase(col("v").cast("string"))
      val k = 2 + (s.k % 8) // vary the sketch size with the shape too (>= 2)
      val got = df.groupBy("g")
        .agg(KmvAgg.kmv(h, k).as("mins"))
        .as[(String, Seq[Long])].collect().toMap
      val truth = df.filter(col("v").isNotNull)
        .select(col("g"), h.as("h")).distinct()
        .as[(String, Long)].collect()
        .groupBy(_._1)
        .map { case (g, rows) =>
          g -> rows.map(_._2).distinct.sorted.take(k).toSeq
        }
      // every group appears (all-null groups with an EMPTY min-set),
      // and each min-set equals the sorted distinct head exactly
      got.keySet == s.rows.map(_._1).toSet &&
        got.forall { case (g, m) => m == truth.getOrElse(g, Seq.empty) }
    })
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ops.{BloomPrune, Layout}
import graft.plans.ZOrderExpr

class LayoutSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  /** Bit-by-bit reference interleave (independent of the magic-number
    * fast path under test). */
  private def refZ(dims: Seq[Long]): Long = {
    val n = dims.size
    val bits = 64 / n
    var z = 0L
    for (d <- 0 until n; i <- 0 until bits)
      z |= (((dims(d) & ((1L << bits) - 1)) >>> i) & 1L) << (i * n + d)
    z
  }

  test("ZOrderExpr 2-D matches the bit-by-bit reference (codegen path)") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map(_ =>
      (rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL))
    val got = rows.toDF("x", "y")
      .select(col("x"), col("y"),
        ZOrderExpr.zorder(col("x"), col("y")).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == refZ(Seq(r.getLong(0), r.getLong(1))))
    }
  }

  test("ZOrderExpr == bit-by-bit reference for generated dims and " +
      "values (scalacheck)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen = for {
      nDims <- Gen.choose(2, 4)
      n <- Gen.choose(5, 40)
      rows <- Gen.listOfN(n, Gen.listOfN(nDims,
        Gen.oneOf(Gen.choose(0L, 15L), Gen.choose(0L, Long.MaxValue),
          Gen.const(0L), Gen.const(-1L))))
    } yield (nDims, rows)
    val prop = Prop.forAll(gen) { case (nDims, rows) =>
      val df = rows.map(r => Tuple1(r.toArray)).toDF("dims")
      val cols = (0 until nDims).map(i => col("dims")(i))
      val got = df.select(ZOrderExpr.zorder(cols: _*).as("z"),
        col("dims")).collect()
      got.forall(r => r.getLong(0) ==
        refZ(r.getSeq[Long](1).toSeq))
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("ZOrderExpr generic N-D path and int inputs") {
    val rows = Seq((3, 5L, 7), (0, 0L, 0), (1048575, 1048575L, 1048575))
    val got = rows.toDF("a", "b", "c")
      .select(ZOrderExpr.zorder(col("a"), col("b"), col("c")).as("z"),
        col("a"), col("b"), col("c"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) ==
        refZ(Seq(r.getInt(1).toLong, r.getLong(2), r.getInt(3).toLong)))
    }
    // monotone locality sanity: (0,0,0) interleaves to 0
    assert(refZ(Seq(0L, 0L, 0L)) == 0L)
  }

  test("ZOrderExpr compiles under CODEGEN_ONLY on both nullable paths") {
    // CODEGEN_ONLY turns silent interpreted fallback into a hard error,
    // so a codegen template bug (e.g. assigning to a FalseLiteral
    // isNull on non-nullable children) fails HERE, not as a perf cliff
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // primitive tuple columns are non-nullable -> FalseLiteral branch
      val nn = Seq((3L, 5L), (7L, 1L)).toDF("x", "y")
        .select(ZOrderExpr.zorder(col("x"), col("y")).as("z"))
        .collect().map(_.getLong(0))
      assert(nn.sameElements(Array(refZ(Seq(3L, 5L)), refZ(Seq(7L, 1L)))))
      // Option columns are nullable -> isNull bookkeeping branch
      val n = Seq((Option(3L), Option(5L)), (None: Option[Long], Option(1L)))
        .toDF("x", "y")
        .select(ZOrderExpr.zorder(col("x"), col("y")).as("z")).collect()
      assert(n(0).getLong(0) == refZ(Seq(3L, 5L)) && n(1).isNullAt(0))
    } finally {
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("ZOrderExpr NULL dims yield NULL; SQL surface registered") {
    spark.sessionState.functionRegistry.registerFunction(
      ZOrderExpr.identifier, ZOrderExpr.info, ZOrderExpr.builder)
    val out = Seq((Some(1L), Some(2L)), (None, Some(2L)), (Some(1L), None))
      .toDF("x", "y")
      .selectExpr("graft_zorder(x, y) AS z").collect()
    assert(!out(0).isNullAt(0))
    assert(out(1).isNullAt(0) && out(2).isNullAt(0))
  }

  test("Z-order layout prunes non-leading dimensions; linear sort " +
      "does not") {
    // 256x256 uniform grid, 64 range partitions: the per-partition
    // bounding boxes ARE the file-level min/max stats each layout
    // would write.
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y =>
      (x.toLong, y.toLong))).toDF("x", "y")
    val parts = 64
    val zBounds = Layout.partitionBounds(
      Layout.zorderBy(grid, Seq(col("x"), col("y")), parts),
      Seq("x", "y")).cache()
    val linBounds = Layout.partitionBounds(
      grid.repartitionByRange(parts, col("x"))
        .sortWithinPartitions(col("x"), col("y")),
      Seq("x", "y")).cache()
    assert(zBounds.count() == parts && linBounds.count() == parts)
    // y-band predicate (non-leading for the linear layout): linear
    // layout prunes nothing — every partition spans all of y; Z-order
    // reads at most half the partitions.
    val yBand = Map("y" -> (0L, 31L))
    val zTouched = Layout.prunablePartitions(zBounds, yBand)
    val linTouched = Layout.prunablePartitions(linBounds, yBand)
    assert(linTouched == parts.toLong,
      s"linear layout unexpectedly pruned a y-band: $linTouched")
    assert(zTouched <= parts / 2,
      s"z-order should bound every partition's y-range: $zTouched")
    // small 2-D box: Z-order touches few partitions
    val box = Map("x" -> (64L, 95L), "y" -> (64L, 95L))
    val zBox = Layout.prunablePartitions(zBounds, box)
    assert(zBox <= parts / 4, s"2-D box touched $zBox of $parts")
  }

  test("bloom-pruned join == plain join, and the filter really prunes") {
    val probe = (1L to 20000L).map(i => (i, i % 97)).toDF("k", "payload")
    val build = (1L to 20000L by 100).map(i => (i, s"b$i"))
      .toDF("bk", "tag")
    val exact = probe.join(build, col("k") === col("bk"))
      .select("k", "payload", "bk", "tag")
      .collect().map(_.toSeq).toSet
    val pruned = BloomPrune.prunedEquiJoin(probe, build,
        col("k"), col("bk"), expectedItems = 1000L)
      .select("k", "payload", "bk", "tag")
      .collect().map(_.toSeq).toSet
    assert(pruned == exact)
    // the predicate alone keeps the 200 true keys + ~2% fp of 20k
    val bf = BloomPrune.buildFilter(build, col("bk"), 1000L)
    val kept = probe.filter(BloomPrune.mightContain(bf, col("k"))).count()
    assert(kept >= 200 && kept < 2000,
      s"bloom kept $kept of 20000 — not pruning")
  }

  test("bloom prune with empty build side rejects all probe rows") {
    val probe = (1L to 100L).toDF("k")
    val build = Seq.empty[Long].toDF("bk")
    assert(BloomPrune.prunedEquiJoin(probe, build,
      col("k"), col("bk")).count() == 0)
  }

  test("Lakehouse.compactZOrder: data identical, rows z-ordered " +
      "within each rewritten file") {
    import graft.lake.Lakehouse
    import graft.schema.{Observation, Schemas}
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val rnd = new scala.util.Random(13)
    val rows = rnd.shuffle((0 until 64).flatMap(s => (0 until 16).map(k =>
      Observation("ds", s"p${k % 2}", s"i$k", "t1", "", "", "r1", "e1", s,
        Some("op"), None, Some("o"), Some((s * 37 % 64).toDouble), None,
        None, Some(ts), None, None, None, Some(false)))))
    val wh = tmpDir("zorder-wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", rows.toDF(), Schemas.observations)
    val before = lake.observations.drop("created_at")
      .collect().map(_.toSeq).toSet
    lake.compactZOrder("observations",
      Seq("step_id", "execution_time_ms"))
    val after = lake.observations.drop("created_at")
      .collect().map(_.toSeq).toSet
    assert(after == before)
    // each rewritten file's row order follows the curve: recompute the
    // encoded z per row and assert nondecreasing within the file. The
    // latest snapshot's files only: the replaced files stay on disk,
    // in their pre-curve order, for the earlier snapshot
    val table = new java.io.File(wh, "observations")
    val parquets = LakeFiles.latestFiles(table).toList
      .map(new java.io.File(table, _).getPath)
    assert(parquets.nonEmpty && parquets.forall(_.endsWith(".parquet")))
    // step_id and execution_time_ms both span [0, 63] by construction
    parquets.foreach { p =>
      val zs = spark.read.parquet(p)
        .select(ZOrderExpr.zorder(
          (col("step_id").cast("double") / 63.0 * ((1 << 20) - 1))
            .cast("long"),
          (col("execution_time_ms") / 63.0 * ((1 << 20) - 1))
            .cast("long")).as("z"))
        .collect().map(_.getLong(0))
      assert(zs.sameElements(zs.sorted), s"file $p not curve-ordered")
    }
  }

  test("Lakehouse.compactZOrder: partition predicate scopes the " +
      "rewrite; empty selection is a no-op") {
    import graft.lake.Lakehouse
    import graft.schema.{Observation, Schemas}
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def o(p: String, impl: String, step: Int) =
      Observation("ds", p, impl, "t1", "", "", "r1", "e1", step,
        Some("op"), None, Some("o"), Some(step.toDouble), None, None,
        Some(ts), None, None, None, Some(false))
    val rows = (0 until 32).map(s => o(s"p${s % 2}", s"i$s", s))
    val wh = tmpDir("zw-pred")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", rows.toDF(), Schemas.observations)
    val before = lake.observations.drop("created_at")
      .collect().map(_.toSeq).toSet
    // scoped rewrite: only p0; p1 files untouched on disk
    val p1Files = new java.io.File(
      s"$wh/observations/data_set_id=ds/problem_id=p1").list().toSet
    lake.compactZOrder("observations",
      Seq("step_id", "execution_time_ms"),
      col("problem_id") === "p0")
    assert(lake.observations.drop("created_at")
      .collect().map(_.toSeq).toSet == before)
    assert(new java.io.File(
      s"$wh/observations/data_set_id=ds/problem_id=p1").list().toSet
      == p1Files, "untouched partition must keep its files")
    // empty selection: no-op, no exception, data intact
    lake.compactZOrder("observations",
      Seq("step_id"), col("problem_id") === "nope")
    assert(lake.observations.count() == 32)
  }

  test("Lakehouse.deleteWhere: partial + full-partition deletes, " +
      "NULL predicate keeps rows, untouched partitions unharmed") {
    import graft.lake.Lakehouse
    import graft.schema.{Observation, Schemas}
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def o(p: String, impl: String, step: Int, out: Option[String]) =
      Observation("ds", p, impl, "t1", "", "", "r1", "e1", step,
        Some("op"), None, out, Some(1.0), None, None, Some(ts), None,
        None, None, Some(false))
    val rows = Seq(
      o("p0", "a", 0, Some("x")), o("p0", "b", 1, Some("y")),
      o("p1", "c", 0, Some("x")), o("p1", "d", 1, None),
      o("p2", "e", 0, Some("x")))
    val wh = tmpDir("del-wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", rows.toDF(), Schemas.observations)
    // delete all of p2 (full partition), impl a in p0 (partial);
    // p1's NULL-output row matches a NULL predicate -> must survive
    lake.deleteWhere("observations",
      col("problem_id") === "p2" ||
        (col("problem_id") === "p0" && col("implementation_id") === "a") ||
        (col("problem_id") === "p1" && col("output") === "never"))
    val back = lake.observations
      .select("problem_id", "implementation_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("p0", "b"), ("p1", "c"), ("p1", "d")))
    // the fully-deleted partition has no file in the latest snapshot
    assert(LakeFiles.latestFiles(new java.io.File(wh, "observations"))
      .map(LakeFiles.partitionOf) ==
      Set("data_set_id=ds/problem_id=p0", "data_set_id=ds/problem_id=p1"))
    // ...and its directory goes once no kept snapshot names its files
    lake.expireSnapshots("observations")
    assert(!new java.io.File(
      s"$wh/observations/data_set_id=ds/problem_id=p2").exists())
    // no-op delete leaves everything alone
    lake.deleteWhere("observations",
      col("implementation_id") === "zzz")
    assert(lake.observations.count() == 3)
  }

  test("compactZOrder with 4 dims: encode stays inside ZOrderExpr's " +
      "per-dim bit budget (no curve wrap)") {
    import graft.lake.Lakehouse
    import graft.schema.{Observation, Schemas}
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // 4 dims → 16 bits/dim in ZOrderExpr; a 20-bit encode would wrap
    // (top 4 bits masked) and scramble the within-file order. With 3
    // dims constant, the Morton order must be MONOTONE in the 4th.
    val rnd = new scala.util.Random(23)
    val rows = rnd.shuffle((0 until 32).toList).map { step =>
      Observation("ds", "p0", s"i$step", "t1", "", "", "r1", "e1", step,
        Some("op"), None, Some("x"), Some(1.0), Some(2.0), Some(3.0),
        Some(ts), None, None, None, Some(false))
    }
    val wh = tmpDir("z4-wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", rows.toDF(), Schemas.observations)
    lake.compactZOrder("observations",
      Seq("step_id", "execution_time_ms", "memory_used_mb",
        "branch_coverage_percent"))
    val table = new java.io.File(wh, "observations")
    val files = LakeFiles.latestFiles(table).toSeq
    assert(files.length == 1, "compaction must leave one file")
    assert(LakeFiles.partitionOf(files.head) ==
      "data_set_id=ds/problem_id=p0")
    val order = spark.read.parquet(new java.io.File(table, files.head).getPath)
      .select("step_id").collect().map(_.getInt(0)).toSeq
    assert(order == order.sorted,
      s"z-order over 4 dims must be monotone in the only varying dim, " +
        s"got $order")
  }

  test("Lakehouse.deleteWhere: full-partition delete with characters " +
      "Spark escape-encodes in the directory name") {
    import graft.lake.Lakehouse
    import graft.schema.{Observation, Schemas}
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def o(p: String, impl: String) =
      Observation("ds", p, impl, "t1", "", "", "r1", "e1", 0,
        Some("op"), None, Some("x"), Some(1.0), None, None, Some(ts),
        None, None, None, Some(false))
    // ':' and ' ' are escape-encoded in partition dir names — a raw
    // "$c=$v" path misses the real directory and the delete silently
    // leaves the rows behind (the pre-fix failure mode)
    val rows = Seq(o("p:1 x", "a"), o("p0", "b"))
    val wh = tmpDir("del-esc-wh")
    val lake = new Lakehouse(spark, wh)
    lake.append("observations", rows.toDF(), Schemas.observations)
    lake.deleteWhere("observations",
      col("problem_id") === "p:1 x")
    val back = lake.observations.select("problem_id", "implementation_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(back == Set(("p0", "b")),
      "rows of the escaped partition must not reappear after DELETE")
    val dirs = LakeFiles.latestFiles(new java.io.File(wh, "observations"))
      .map(LakeFiles.partitionOf)
    assert(dirs == Set("data_set_id=ds/problem_id=p0"),
      s"escaped partition must have no file in the latest snapshot, " +
        s"found $dirs")
    lake.expireSnapshots("observations")
    val left = new java.io.File(s"$wh/observations/data_set_id=ds")
      .list().toSet
    assert(left == Set("problem_id=p0"),
      s"escaped partition dir must be removed by expiry, found $left")
  }

  test("IncrementalAgg.merge: NULL-keyed group merges once (null-safe " +
      "touched/untouched split)") {
    import graft.ops.IncrementalAgg
    // groupBy keeps NULL as a real group; a plain '=' join split would
    // leave prev's NULL row in 'untouched' AND re-emit the delta's,
    // duplicating the group
    val prev = Seq((Some("g1"), 10.0), (None, 5.0), (None, 7.0))
      .toDF("g", "v")
    val delta = Seq((Some("g1"), 1.0), (None, 2.0)).toDF("g", "v")
    val keys = Seq("g")
    val merged = IncrementalAgg.merge(
      IncrementalAgg.statsOf(prev, keys, "v"),
      IncrementalAgg.statsOf(delta, keys, "v"), keys)
    val full = IncrementalAgg.statsOf(prev.union(delta), keys, "v")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getDecimal(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(merged.count() == 2, "NULL group must appear exactly once")
    assert(canon(merged) == canon(full))
    // distinct-sketch variant takes the same split
    val mergedD = IncrementalAgg.mergeWithDistinct(
      IncrementalAgg.statsOfWithDistinct(prev, keys, "v", "g"),
      IncrementalAgg.statsOfWithDistinct(delta, keys, "v", "g"), keys)
    assert(mergedD.count() == 2)
  }

  test("IncrementalAgg sketch state: merged distinct estimate == " +
      "one-shot estimate, any merge order") {
    import graft.ops.IncrementalAgg
    val rnd = new scala.util.Random(19)
    val rows = (0 until 900).map { i =>
      (i % 3, s"g${rnd.nextInt(5)}", rnd.nextInt(100000) / 100.0,
        s"u${rnd.nextInt(400)}")
    }.toDF("era", "g", "v", "user")
    val keys = Seq("g")
    def stats(era: Int) = IncrementalAgg.statsOfWithDistinct(
      rows.filter(col("era") === era), keys, "v", "user")
    def estimates(d: org.apache.spark.sql.DataFrame) =
      IncrementalAgg.distinctEstimate(d)
        .select("g", "n_distinct").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = estimates(IncrementalAgg.statsOfWithDistinct(
      rows, keys, "v", "user"))
    // two different merge orders, both == the one-shot sketch: HLL
    // union is lossless over sketches, so the ESTIMATES are identical
    val m012 = estimates(IncrementalAgg.mergeWithDistinct(
      IncrementalAgg.mergeWithDistinct(stats(0), stats(1), keys),
      stats(2), keys))
    val m210 = estimates(IncrementalAgg.mergeWithDistinct(
      IncrementalAgg.mergeWithDistinct(stats(2), stats(1), keys),
      stats(0), keys))
    assert(m012 == full && m210 == full)
    // sanity: the estimate is in the right ballpark of the true count
    val truth = rows.groupBy("g").agg(countDistinct("user").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (g, est) =>
      assert(math.abs(est - truth(g)).toDouble / truth(g) < 0.15,
        s"$g: est=$est true=${truth(g)}")
    }
  }

  test("IncrementalAgg: chained era merges == one-shot stats, " +
      "delta-only and prev-only groups included") {
    import graft.ops.IncrementalAgg
    val rnd = new scala.util.Random(17)
    // group g9 exists only in era 0 (prev-only passthrough), g0 only
    // in era 2 (delta-only group creation)
    val rows = (0 until 600).map { i =>
      val era = i % 3
      val g = if (era == 0) s"g${1 + rnd.nextInt(9)}"
        else if (era == 2) s"g${rnd.nextInt(9)}"
        else s"g${1 + rnd.nextInt(8)}"
      (era, g, rnd.nextInt(100000) / 100.0)
    }
    val df = rows.toDF("era", "g", "v")
    val keys = Seq("g")
    def stats(era: Int) = IncrementalAgg.statsOf(
      df.filter(col("era") === era), keys, "v")
    val merged = IncrementalAgg.merge(
      IncrementalAgg.merge(stats(0), stats(1), keys), stats(2), keys)
    val full = IncrementalAgg.statsOf(df, keys, "v")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(canon(merged) == canon(full))
  }
}

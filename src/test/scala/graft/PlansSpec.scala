package graft

import org.apache.spark.sql.functions._
import graft.functions.{Fns, OrderedStringAggregator}
import graft.plans.{GitBlobHashExpr, GraftExtensions}

class PlansSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def registerNative(): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      GitBlobHashExpr.identifier, GitBlobHashExpr.info,
      GitBlobHashExpr.builder)
    spark.sessionState.functionRegistry.registerFunction(
      GitBlobHashExpr.sha1Identifier, GitBlobHashExpr.sha1Info,
      GitBlobHashExpr.sha1Builder)
  }

  private val tricky = Seq(
    "plain text",
    "crlf\r\nline  \n\n",
    "trailing spaces   ",
    "tabs\t\t\nmore \t \n\n\n",
    "中文 multibyte ≠ ascii",
    "")

  test("native GitBlobHashExpr equals the built-in column form") {
    registerNative()
    val rows = tricky.toDF("s").select(
      Fns.gitBlobHash(col("s")).as("builtin"),
      expr("graft_git_blob_hash(s)").as("native"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("GitBlobHashExpr evaluates under codegen over many rows") {
    registerNative()
    val out = (1 to 1000).map(i => s"content $i\r\n x ").toDF("s")
      .selectExpr("graft_git_blob_hash(s) AS h").collect()
    assert(out.map(_.getString(0)).distinct.length == 1000)
    assert(out.forall(_.getString(0).length == 64))
  }

  test("SHA-1 variant matches real `git hash-object` vectors") {
    registerNative()
    // vectors computed with `git hash-object --stdin` on the
    // already-normalized content (normalization is idempotent for these)
    val vectors = Seq(
      "hello" -> "b6fc4c620b67d95f953a5c1c1230aaab5db5a1b0",
      // "hello\n" normalizes to "hello" -> same blob as git sees
      "hello\n" -> "b6fc4c620b67d95f953a5c1c1230aaab5db5a1b0",
      "" -> "e69de29bb2d1d6434b8b29ae775ad8c2e48c5391",
      // CR / VT / FF torture: normalizes to "line1\nline2\n\nx\ntrail"
      // (vector from hashlib.sha1 of the reference's normalize_source)
      "line1  \nline2\u000b\n\nx\r\ntrail\r" ->
        "4e6fee0eef58b887a5316cb9dc2bdb19659fc689")
    vectors.foreach { case (text, want) =>
      val viaExpr = Seq(text).toDF("s")
        .selectExpr("graft_git_blob_sha1(s) AS h").collect().head.getString(0)
      val viaCol = Seq(text).toDF("s")
        .select(Fns.gitBlobHashSha1(col("s"))).collect().head.getString(0)
      assert(viaExpr == want, s"expr: ${text.take(20)}")
      assert(viaCol == want, s"column form: ${text.take(20)}")
    }
  }

  test("native vec dot: bit-identical to the zip_with fold, null parity") {
    import graft.functions.Fns
    import graft.plans.VecDotExpr
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    def dd(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
    val out = df.select(
      VecDotExpr.dot(col("a"), col("b")).as("native_f"),
      VecDotExpr.dot(dd(col("a")), dd(col("b"))).as("native_d"),
      Fns.dotProductFold(dd(col("a")), dd(col("b"))).as("fold")).collect()
    out.foreach { r =>
      // float path and double path both accumulate (double)a*(double)b in
      // index order — all three must be bit-identical
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }
    // length mismatch and null elements -> NULL, like the fold
    val edge = Seq(
      (Array(1f, 2f), Array(1f, 2f, 3f)),
      (Array(1f, 2f), Array(1f, 2f))).toDF("a", "b")
    val e = edge.select(VecDotExpr.dot(col("a"), col("b")).as("d"))
      .collect()
    assert(e(0).isNullAt(0) && e(1).getDouble(0) == 5.0)
    // SQL surface via the extensions-injected function
    spark.sessionState.functionRegistry.registerFunction(
      VecDotExpr.identifier, VecDotExpr.info, VecDotExpr.builder)
    assert(df.selectExpr("graft_vec_dot(a, b) AS d").count() == 200)
  }

  test("vec dot declares nullable and NULLs on non-nullable inputs") {
    import graft.plans.VecDotExpr
    // array(lit...) columns are non-nullable: without the nullable=true
    // override BinaryExpression would report false, codegen's isNull
    // would be the literal `false` (compile failure → interpreted
    // fallback) and the NULL-on-mismatch result would violate the
    // declared schema. Exercise both codegen and the schema claim.
    val df = spark.range(100).select(
      array(lit(1f), lit(2f)).as("a"),
      array(lit(1f), lit(2f), lit(3f)).as("b"),
      array(lit(4f), lit(5f)).as("c"))
    val out = df.select(
      VecDotExpr.dot(col("a"), col("b")).as("mismatch"),
      VecDotExpr.dot(col("a"), col("c")).as("ok"))
    assert(out.schema("mismatch").nullable)
    val rows = out.collect()
    assert(rows.forall(_.isNullAt(0)))
    assert(rows.forall(_.getDouble(1) == 14.0))
  }

  test("count-in-set SQL builder validates the constant set argument") {
    import graft.plans.CountInSetExpr
    spark.sessionState.functionRegistry.registerFunction(
      CountInSetExpr.identifier, CountInSetExpr.info,
      CountInSetExpr.builder)
    val df = Seq((1, Array("the", "cat"))).toDF("id", "ws")
    // NULL elements in the constant set can never match — skipped, not NPE
    val n = df.selectExpr(
      "graft_count_in_set(ws, array('the', NULL)) AS n")
      .collect().head.getInt(0)
    assert(n == 1)
    // non-string constant array → clear require() message, not a CCE
    val err = intercept[Exception] {
      df.selectExpr("graft_count_in_set(ws, array(1, 2)) AS n").collect()
    }
    assert(err.getMessage.contains("array<string>"))
    // NULL set → clear message, not an NPE
    val err2 = intercept[Exception] {
      df.selectExpr(
        "graft_count_in_set(ws, CAST(NULL AS ARRAY<STRING>)) AS n")
        .collect()
    }
    assert(err2.getMessage.contains("must not be NULL"))
  }

  test("native count-in-set: equals the size(filter(isin)) chain") {
    import graft.plans.CountInSetExpr
    val set = Seq("the", "a", "of", "and", "is")
    val rnd = new scala.util.Random(11)
    val vocab = set ++ Seq("cat", "dog", "", "THE", "ist", "la")
    val rows = (0 until 300).map { i =>
      i -> Array.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
    }
    val df = rows.toDF("id", "ws")
    val out = df.select(
      CountInSetExpr.countInSet(col("ws"), set).as("native"),
      size(filter(col("ws"), w => w.isin(set: _*))).as("hof")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // null array -> null; null elements not counted
    val edge = Seq((1, null), (2, Array("the", null, "x")))
      .toDF("id", "ws")
      .select(CountInSetExpr.countInSet(col("ws"), set).as("n")).collect()
    assert(edge(0).isNullAt(0) && edge(1).getInt(0) == 1)
    // SQL surface with a constant set argument
    spark.sessionState.functionRegistry.registerFunction(
      CountInSetExpr.identifier, CountInSetExpr.info,
      CountInSetExpr.builder)
    val viaSql = df.selectExpr(
      "graft_count_in_set(ws, array('the','a','of','and','is')) AS n")
      .collect().map(_.getInt(0)).toSeq
    assert(viaSql == out.map(_.getInt(0)).toSeq)
  }

  test("extensions object applies its function injection cleanly") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; builder proven above
  }

  test("native aggregates work from plain SQL (GROUP BY context)") {
    import graft.plans.{KeyedMinAgg, SigListAgg}
    spark.sessionState.functionRegistry.registerFunction(
      SigListAgg.identifier, SigListAgg.info, SigListAgg.builder)
    spark.sessionState.functionRegistry.registerFunction(
      KeyedMinAgg.identifier, KeyedMinAgg.info, KeyedMinAgg.builder)
    Fixtures.observations.createOrReplaceTempView("obs_sql")
    // fingerprint over a named_struct segment: same values as the
    // Column-level entry
    val viaSql = spark.sql("""SELECT implementation_id,
        md5(to_json(graft_sig_list(named_struct('t', test_id, 'r', run_id),
          step_id, output))) AS fp
      FROM obs_sql GROUP BY implementation_id ORDER BY implementation_id""")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    val viaCol = Fixtures.observations
      .groupBy(col("implementation_id"))
      .agg(md5(to_json(SigListAgg.sigs(struct(col("test_id"),
        col("run_id")), col("step_id"), col("output")))).as("fp"))
      .orderBy("implementation_id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    assert(viaSql == viaCol && viaSql.nonEmpty)
    // keyed min: map cells match the pivot
    val m = spark.sql("""SELECT test_id, step_id,
        graft_keyed_min(implementation_id, output) AS m
      FROM obs_sql GROUP BY test_id, step_id""")
      .selectExpr("test_id", "step_id", "element_at(m, 'i1') AS i1")
      .orderBy("test_id", "step_id").collect().map(_.toSeq).toSeq
    val p = graft.queries.CanonicalQueries.srmOutputViewPivot(
      Fixtures.observations, Seq("i1"))
      .collect().map(_.toSeq).toSeq
    assert(m == p)
  }

  test("builder casts non-string inputs (implicit-cast behavior)") {
    registerNative()
    val viaInt = Seq(42).toDF("n")
      .selectExpr("graft_git_blob_hash(n) AS h").collect().head.getString(0)
    val viaStr = Seq("42").toDF("s")
      .selectExpr("graft_git_blob_hash(s) AS h").collect().head.getString(0)
    assert(viaInt == viaStr)
  }

  test("native aggregates match built-in forms on adversarial inputs (property)") {
    import graft.plans.KeyedMinAgg
    // Unicode collation torture: characters around the UTF-16/UTF-8
    // order divergence (U+E000-FFFF vs supplementary planes), empties,
    // nulls — where a java.lang.String-ordered buffer would diverge
    // from the UTF-8-binary built-ins
    val vocab = Seq("a", "", "￿", "𐀀" /* U+10000 */,
      "", "中", "z~", null)
    val rnd = new scala.util.Random(23)
    val rows = (0 until 400).map { i =>
      (s"k${rnd.nextInt(6)}", vocab(rnd.nextInt(vocab.size)),
        vocab(rnd.nextInt(vocab.size)))
    }
    val df = rows.toDF("g", "key", "v")
    // keyed-min vs groupBy+min ground truth
    val viaAgg = df.groupBy("g")
      .agg(KeyedMinAgg.keyedMin(col("key"), col("v")).as("m"))
      .select(col("g"), explode(col("m")).as(Seq("key", "minv")))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2))).toSet
    val truth = df.filter(col("key").isNotNull && col("v").isNotNull)
      .groupBy("g", "key").agg(min(col("v")).as("minv"))
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2))).toSet
    assert(viaAgg == truth)
    // trace fingerprint: bit-equal to the composed chain, differing
    // traces ⇒ differing fingerprints (over this sample)
    val obs = (0 until 200).map { i =>
      (s"impl${i % 10}", s"t${i % 5}", s"r${i % 2}", i % 7,
        vocab(i % (vocab.size - 1))) // exclude null runs of vocab tail
    }.toDF("impl", "test", "run", "step", "out")
    val fps = fusedFps(obs)
    // impl0 and impl5 (etc.) see different (step, out) sequences here;
    // shuffled input row order must not change any fingerprint
    assert(fps == fusedFps(obs.orderBy(rand(42))))
    assert(fps == composedFps(obs))
    assert(fps.values.toSet.size > 1)
  }

  test("one-segment SigListAgg: bit parity with " +
      "md5(to_json(orderedCollect)) under adversarial merges") {
    import graft.plans.SigListAgg
    import graft.queries.CanonicalQueries.traceSig
    // JSON-escaping + collation torture: quotes, backslashes, named and
    // \u00XX control escapes, U+FFFF vs supplementary plane (UTF-16
    // order diverges from UTF-8 binary order there), empties, NULL
    // values AND NULL ord keys, duplicate ords (tie-break on value)
    val vocab = Seq("a", "", "\"quote\"", "back\\slash",
      "ctl", "nl\nlf\ttab\fff\bbs\rcr", "中文",
      "￿", "𐀀" /* U+10000 */, "😀 emoji", null)
    val rnd = new scala.util.Random(31)
    val rows = (0 until 500).map { _ =>
      (s"g${rnd.nextInt(8)}",
        if (rnd.nextInt(10) == 0) Option.empty[Int]
        else Some(rnd.nextInt(5)),
        vocab(rnd.nextInt(vocab.size)))
    }
    val base = rows.toDF("g", "o", "v")
    // the sig must be identical for EVERY partition count and input row
    // order — partial-merge boundaries and buffer order must not leak
    Seq(1, 3, 7, 32).foreach { k =>
      val df = base.orderBy(rand(k)).repartition(k)
      val out = df.groupBy("g").agg(
        traceSig(col("o"), col("v")).as("native"),
        md5(to_json(Fns.orderedCollect(col("o"), col("v"))))
          .as("composed"))
        .collect()
      assert(out.nonEmpty)
      out.foreach { r =>
        assert(r.getString(1) == r.getString(2),
          s"k=$k g=${r.getString(0)}")
      }
    }
    // SQL surface via the extensions-injected function: the constant
    // segment's element 0, equal to the Column-level entry
    spark.sessionState.functionRegistry.registerFunction(
      SigListAgg.identifier, SigListAgg.info, SigListAgg.builder)
    base.createOrReplaceTempView("sig_rows")
    val viaSql = spark.sql(
      "SELECT g, graft_sig_list(0, o, v)[0] AS s FROM sig_rows GROUP BY g")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaCol = base.groupBy("g").agg(traceSig(col("o"), col("v")))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaSql.size == 8 && viaSql == viaCol)
  }

  test("native aggregates: randomized partition counts and merge order " +
      "(property)") {
    import graft.plans.KeyedMinAgg
    val vocab = Seq("a", "", "￿", "𐀀", "中", "z~", null)
    val rnd = new scala.util.Random(29)
    val obs = (0 until 300).map { _ =>
      (s"impl${rnd.nextInt(8)}", s"t${rnd.nextInt(4)}",
        s"r${rnd.nextInt(2)}",
        if (rnd.nextInt(12) == 0) Option.empty[Int]
        else Some(rnd.nextInt(6)),
        vocab(rnd.nextInt(vocab.size)))
    }
    val base = obs.toDF("impl", "test", "run", "step", "out")
    // composed two-stage chain (behavioralClusteringComposed shape) =
    // the partitioning-independent reference
    val composedRef = composedFps(base)
    val kmTruth = base
      .filter(col("test").isNotNull && col("out").isNotNull)
      .groupBy("impl", "test").agg(min(col("out")).as("minv"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    Seq(1, 2, 5, 13, 32).foreach { k =>
      val df = base.orderBy(rand(k + 100)).repartition(k)
      // trace fingerprint: the composed chain's VALUES at every
      // partition count
      assert(fusedFps(df) == composedRef, s"k=$k")
      // keyed min: ground truth at every partition count
      val km = df.groupBy("impl")
        .agg(KeyedMinAgg.keyedMin(col("test"), col("out")).as("m"))
        .select(col("impl"), explode(col("m")).as(Seq("key", "minv")))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(km == kmTruth, s"k=$k")
    }
  }

  /** Per-impl clustering fingerprints of `obs(impl, test, run, step,
    * out)` through SigListAgg, and through the composed built-in chain
    * (the behavioralClusteringComposed shape). */
  private def fusedFps(obs: org.apache.spark.sql.DataFrame)
      : Map[String, String] =
    obs.groupBy("impl")
      .agg(md5(to_json(graft.plans.SigListAgg.sigs(
        struct(col("test"), col("run")), col("step"), col("out")))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  private def composedFps(obs: org.apache.spark.sql.DataFrame)
      : Map[String, String] =
    obs.groupBy("impl", "test", "run")
      .agg(to_json(Fns.orderedCollect(col("step"), col("out"))).as("sig"))
      .groupBy("impl")
      .agg(md5(to_json(Fns.orderedCollect(
        struct(col("test"), col("run")), md5(col("sig"))))))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("ObservationStepAgg: fused = composed at every partition count") {
    val cells = (1 to 400).flatMap { i =>
      Seq(
        (s"e${i % 2}", s"p${i % 3}", s"sys${i % 5}", "", "0",
          s"t${i % 7}", "a1", i % 4, i % 6, "input_value",
          if (i % 13 == 0) null else s"in{$i}\"中", i.toDouble),
        (s"e${i % 2}", s"p${i % 3}", s"sys${i % 5}", "", "0",
          s"t${i % 7}", "a1", i % 4 + 4, i % 6, "value", s"out$i",
          i.toDouble * 2),
        (s"e${i % 2}", s"p${i % 3}", s"sys${i % 5}", "", "0",
          s"t${i % 7}", "a1", 0, i % 6, "op", "invoke", i.toDouble))
    }.toDF("EXECUTIONID", "ABSTRACTIONID", "SYSTEMID", "VARIANTID",
      "ADAPTERID", "SHEETID", "ARENAID", "X", "Y", "TYPE", "VALUE",
      "EXECUTIONTIME")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.drop("created_at")
        .orderBy("implementation_id", "test_id", "run_id", "step_id")
        .collect().map(_.toSeq).toSeq
    Seq(1, 5, 17).foreach { k =>
      val shuffled = cells.orderBy(rand(k)).repartition(k)
      assert(rows(graft.ingest.ArenaIngest
          .observationsFromArena(shuffled, "DS"))
        == rows(graft.ingest.ArenaIngest
          .observationsFromArenaComposed(shuffled, "DS")), s"k=$k")
    }
  }

  test("OrderedStringAggregator matches Fns.orderedStringAgg") {
    val agg = udaf(new OrderedStringAggregator)
    val df = Seq((1, 3, "c"), (1, 1, "a"), (1, 2, null),
      (1, 1, "b"), (2, 5, "z")).toDF("k", "o", "v")
    val out = df.groupBy("k")
      .agg(agg(col("o"), col("v")).as("via_udaf"),
        Fns.orderedStringAgg(col("o"), col("v"), ",").as("via_builtin"))
      .collect()
    out.foreach { r =>
      assert(r.getAs[String]("via_udaf") == r.getAs[String]("via_builtin"))
    }
    val k1 = out.find(_.getInt(0) == 1).get
    assert(k1.getAs[String]("via_udaf") == "a,b,c")
  }
}

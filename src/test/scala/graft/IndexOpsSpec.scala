package graft

import org.apache.spark.sql.functions._
import graft.ops.{BpeTrain, Dedup, Graphs, Index, Sampling, Sketches,
  Skew}
import graft.plans.TopKAgg

/** Specs for the q93-q98 batch: Bloom-pruned joins, inverted index,
  * PMI collocations, group quota, normalized dedup, salted agg. */
class IndexOpsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("TopKAgg equals the window row_number formulation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val cents = floor(col("l_extendedprice") * 100).cast("long")
    val viaAgg = li
      .select(col("l_orderkey"), (-cents).as("negr"),
        col("l_linenumber").cast("long").as("lid"))
      .groupBy("l_orderkey")
      .agg(TopKAgg.topK(col("negr"), col("lid"), 3).as("top"))
      .select(col("l_orderkey"), explode(col("top")).as("t"))
      .select(col("l_orderkey"), (-col("t.r")).as("cents"),
        col("t.id").as("lid"))
      .orderBy("l_orderkey", "cents", "lid").collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey")
      .orderBy(col("cents").desc, col("lid"))
    val viaWindow = li
      .select(col("l_orderkey"), cents.as("cents"),
        col("l_linenumber").cast("long").as("lid"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select("l_orderkey", "cents", "lid")
      .orderBy("l_orderkey", "cents", "lid").collect().toSeq
    assert(viaAgg == viaWindow)
  }

  test("TopKAgg heap: ties, k > group size, null ranks excluded") {
    val df = Seq[(String, java.lang.Long, java.lang.Long)](
      ("g", 5L, 2L), ("g", 5L, 1L), ("g", 3L, 9L), ("g", 7L, 0L),
      ("g", null, 4L), ("h", 1L, 1L))
      .toDF("g", "r", "id")
    val got = df.groupBy("g")
      .agg(TopKAgg.topK(col("r"), col("id"), 3).as("top"))
      .orderBy("g")
      .select(col("g"), col("top").cast("array<struct<r:long,id:long>>"))
      .as[(String, Seq[(Long, Long)])].collect().toSeq
    // g: smallest 3 of {(3,9),(5,1),(5,2),(7,0)} -> tie on 5 keeps
    // both, (7,0) evicted; null rank row never participates
    assert(got == Seq(
      ("g", Seq((3L, 9L), (5L, 1L), (5L, 2L))),
      ("h", Seq((1L, 1L)))))
  }

  test("invertedIndex: df/tf/postings on a hand corpus, cap flagged") {
    val docs = Seq(
      (1L, "a b a"), (2L, "b c"), (3L, "A  b\tc c")).toDF("id", "text")
    val idx = Index.invertedIndex(docs, "id", "text", maxPostings = 2)
      .orderBy("term").collect()
    val rows = idx.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getString(3), r.getBoolean(4)))
    assert(rows.toSeq == Seq(
      ("a", 2L, 3L, "1,3", false),
      ("b", 3L, 3L, "1,2", true), // capped at 2 of 3 postings
      ("c", 2L, 3L, "2,3", false)))
  }

  test("pmiBigrams: counts and pmi on a hand corpus") {
    val docs = Seq((1L, "x y x y"), (2L, "x y z")).toDF("id", "text")
    // pairs: (x,y)x3, (y,x)x1, (y,z)x1 -> n=5
    val got = Index.pmiBigrams(docs, "text", minCount = 3L).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "x" && r.getString(1) == "y"
      && r.getLong(2) == 3L)
    // left marginal c_x=3 (x starts 3 pairs), right marginal c_y=3
    // (y ends 3 pairs) -> pmi = ln(5*3 / (3*3)) = ln(5/3), 6dp-rounded
    assert(math.abs(r.getDouble(3) - math.log(5.0 / 3.0)) < 1e-6)
  }

  test("groupQuota keeps exactly the top-N per group, tie-broken") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 10L), ("a", 3L, 30L),
      ("b", 4L, 5L)).toDF("g", "id", "score")
    val kept = Sampling.groupQuota(df, col("g"), 2,
        col("score").desc, col("id"))
      .select("id").as[Long].collect().toSet
    // group a: 3 (score 30), then tie 10/10 broken by id -> 1; b: 4
    assert(kept == Set(3L, 1L, 4L))
  }

  test("normalizedExact merges case/punct/whitespace variants") {
    val docs = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"),
      (3L, "HELLO\tWORLD."), (4L, "different")).toDF("id", "text")
    val groups = Dedup.normalizedExact(docs, "id", "text")
      .orderBy("keep_id")
      .select("keep_id", "copies").as[(Long, Long)].collect()
    assert(groups.toSeq == Seq((1L, 3L), (4L, 1L)))
  }

  test("normalizedExact flags the symbol-only merge via content_free") {
    // Emoji-/punctuation-only docs canonicalize to the empty string
    // and DELIBERATELY share one class; content_free makes that merge
    // visible so curation can keep or drop it explicitly.
    val docs = Seq(
      (1L, "😀 🎉"), (2L, "!!! ???"), (3L, "---"),
      (4L, "real words here"), (5L, "Real  WORDS, here!"))
      .toDF("id", "text")
    val got = Dedup.normalizedExact(docs, "id", "text")
      .orderBy("keep_id")
      .select("keep_id", "copies", "content_free")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, 3L, true), (4L, 2L, false)))
  }

  test("curate: keep/drop_dup/drop_content_free consume content_free") {
    // The content-free class (1,2) is dropped WHOLE — even its
    // keep_id gets no survivor; the real-content class keeps its min
    // id and drops the rest; singletons are kept.
    val docs = Seq(
      (1L, "😀 🎉"), (2L, "!!! ???"),
      (3L, "real words here"), (4L, "Real  WORDS, here!"),
      (5L, "unique")).toDF("id", "text")
    val got = Dedup.curate(docs, "id", "text")
      .select("id", "decision").as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "drop_content_free", 2L -> "drop_content_free",
      3L -> "keep", 4L -> "drop_dup", 5L -> "keep"))
  }

  test("canonicalText keeps non-Latin letters as content (DuckDB-" +
      "parity torture set, codepoint-exact)") {
    // Expected strings were computed in DuckDB with the mirrored SQL
    // (lower + Zs/line-sep → space + [^\p{L}\p{N}\s] strip + \s+
    // collapse + trim) and matched Spark codepoint-for-codepoint in
    // the round-7/round-8 probes — İ/ẞ special casings, fullwidth
    // forms, Roman numerals, symbol-only → empty. Unicode whitespace
    // (NBSP, em/thin/ideographic space, line/para sep, NEL) now maps
    // to a word BOUNDARY on both engines ('foo\u00A0bar' dedups
    // against 'foo bar'); zero-width space is format junk (Cf, not
    // Zs) and is still deleted.
    val rows = Seq(
      "Héllo, Wörld!" -> "héllo wörld",
      "ПРИВЕТ мир" -> "привет мир",
      "中文，测试。" -> "中文测试",
      "İstanbul I ı" -> "istanbul i ı",
      "straße ẞ" -> "straße ß",
      "１２３ ４５" -> "１２３ ４５",
      "😀 🎉 !!!" -> "",
      "ⅣⅢ ①②" -> "ⅳⅲ ①②",
      "mixed\u00A0space\u2003x" -> "mixed space x",
      "thin\u2009ideo\u3000sep\u2028\u2029nel\u0085." ->
        "thin ideo sep nel",
      "zero\u200Bwidth" -> "zerowidth",
      "a b\tc" -> "a b c")
    val got = rows.map(_._1).toDF("text")
      .select(Dedup.canonicalText(col("text"))).as[String].collect()
    assert(got.toSeq == rows.map(_._2),
      "canonicalText diverged from the DuckDB-verified torture set")
    // distinct non-Latin documents must NOT share a content class
    val docs = Seq((1L, "中文一"), (2L, "中文二"), (3L, "русский"))
      .toDF("id", "text")
    assert(Dedup.normalizedExact(docs, "id", "text").count() == 3)
  }

  test("encodeTokenCounts matches the fold-based BPE inference") {
    // includes the overlap case (l l l) and a literal '|' in the text
    val docs = Seq(
      (1L, "lll the thermal | bat"),
      (2L, "ttthhh"), (3L, "   ")).toDF("id", "text")
    val merges = Seq("l" -> "l", "t" -> "h", "th" -> "e")
    val viaReplace = BpeTrain.encodeTokenCounts(docs, "id", col("text"),
        merges)
      .select("id", "n_subword_tokens").as[(Long, Long)]
      .collect().toMap
    val viaFold = BpeTrain.tokenCountWithMerges(
        docs.withColumn("text",
          regexp_replace(col("text"), "\\|", "")),
        "id", col("text"), merges)
      .select("id", "n_subword_tokens").as[(Long, Long)]
      .collect().toMap
    assert(viaReplace == viaFold)
    // hand check: "lll" -> [ll, l] = 2; "the" -> [the] = 1;
    // "thermal" -> [the, r, m, a, l] = 5; "|"-stripped word -> 0 syms;
    // "bat" -> 3
    assert(viaReplace(1L) == 2 + 1 + 5 + 0 + 3)
    // "ttthhh" -> t t t h h h: (t,h) merges once in the middle -> 5
    assert(viaReplace(2L) == 5)
    assert(!viaReplace.contains(3L)) // whitespace-only doc drops
  }

  test("cmHeavyHitters equals plain GROUP BY HAVING") {
    val ev = graft.testqueries.Tables.events(spark, sf)
    val viaSketch = Sketches.cmHeavyHitters(ev, col("user_id"),
        depth = 4, width = 16, threshold = 5L)
      .orderBy("key").as[(Long, Long)].collect().toSeq
    val plain = ev.groupBy(col("user_id").as("key"))
      .agg(count(lit(1)).as("n")).filter(col("n") >= 5)
      .orderBy("key").as[(Long, Long)].collect().toSeq
    assert(viaSketch == plain)
  }

  test("triangleCount on a hand graph") {
    // K4 minus one edge on {1,2,3,4}: triangles {1,2,3} and {1,2,4}
    // (edge 3-4 missing); plus an isolated-ish pendant 5
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (2L, 4L),
      (4L, 5L), (2L, 1L) /* duplicate reversed */, (3L, 3L) /* loop */)
      .toDF("s", "t")
    val r = Graphs.triangleCount(edges, "s", "t").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (5L, 6L, 2L))
    // no edges: still exactly one all-zero row
    val none = Graphs.triangleCount(edges.limit(0), "s", "t").collect()
    assert(none.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq((0L, 0L, 0L)))
  }

  test("graft_topk works from plain SQL") {
    spark.sessionState.functionRegistry.registerFunction(
      TopKAgg.identifier, TopKAgg.info, TopKAgg.builder)
    Seq((1L, 30L, 1L), (1L, 10L, 2L), (1L, 20L, 3L), (2L, 5L, 4L))
      .toDF("g", "r", "id").createOrReplaceTempView("topk_in")
    val got = spark.sql(
      """SELECT g, graft_topk(r, id, 2) AS top FROM topk_in
         GROUP BY g ORDER BY g""")
      .select(col("g"), col("top").cast("array<struct<r:long,id:long>>"))
      .as[(Long, Seq[(Long, Long)])].collect().toSeq
    assert(got == Seq(
      (1L, Seq((10L, 2L), (20L, 3L))), (2L, Seq((5L, 4L)))))
  }

  test("saltedCountSum is bit-identical to the unsalted aggregate") {
    val ev = graft.testqueries.Tables.events(spark, sf)
    val salted = Skew.saltedCountSum(ev, col("event_type"),
        col("user_id"), col("value"), salts = 16)
      .orderBy("k").collect()
    val plain = ev.groupBy(col("event_type").as("k"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,2)")).cast("double").as("s"))
      .orderBy("k").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("invertedIndex rejects a non-integral id column loudly") {
    import TestSpark.spark.implicits._
    val docs = Seq(("docA", "one two"), ("docB", "two three"))
      .toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      Index.invertedIndex(docs, "id", "text")
    }
    assert(e.getMessage.contains("integral id column"))
  }
}

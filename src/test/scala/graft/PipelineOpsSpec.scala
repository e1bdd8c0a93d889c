package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.{BpeTrain, Funnels, Graphs, Packing, Sketches}

/** Ordered funnels, corpus sequence packing, fixed-iteration PageRank,
  * Count-Min sketches, and BPE merge learning. */
class PipelineOpsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private def ts(min: Int) =
    Timestamp.valueOf(f"2026-01-01 00:$min%02d:00")

  test("funnel: strict order required, ties excluded, times exact") {
    val evs = Seq(
      // u1 completes s->p->e in order
      (1L, ts(1), "signup"), (1L, ts(3), "purchase"), (1L, ts(5), "error"),
      // u2: purchase BEFORE signup doesn't count; no purchase after
      (2L, ts(2), "purchase"), (2L, ts(4), "signup"),
      // u3: purchase at the SAME micro as signup is not strictly after
      (3L, ts(1), "signup"), (3L, ts(1), "purchase"),
      // u4: never signs up
      (4L, ts(1), "purchase"), (4L, ts(2), "error"))
      .toDF("user_id", "ts", "event_type")
    val out = Funnels.funnelCounts(evs, "user_id", "ts", "event_type",
      Seq("signup", "purchase", "error")).collect()
    assert(out.map(r => (r.getInt(0), r.getLong(2))).toSeq ==
      Seq((0, 3L), (1, 1L), (2, 1L)))
    // u1's purchase is 2 min after signup, error 4 min after
    assert(out(1).getLong(3) == 120000000L)
    assert(out(2).getLong(3) == 240000000L)
  }

  test("funnel: earliest qualifying event wins, not the first overall") {
    val evs = Seq(
      // signup at t=4; the purchase at t=2 is before it, t=6 qualifies
      (1L, ts(2), "purchase"), (1L, ts(4), "signup"),
      (1L, ts(6), "purchase"), (1L, ts(8), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val t = Funnels.userStageTimes(evs, "user_id", "ts", "event_type",
      Seq("signup", "purchase")).collect().head
    assert(t.getLong(2) - t.getLong(1) == 120000000L) // t1 = t=6, not t=8
  }

  test("funnel: repeated stage type needs a strictly later event") {
    val evs = Seq(
      (1L, ts(1), "purchase"), (1L, ts(3), "purchase"),
      (2L, ts(1), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = Funnels.funnelCounts(evs, "user_id", "ts", "event_type",
      Seq("purchase", "purchase")).collect()
    // both users reach stage 0; only u1 has a second, later purchase
    assert(out.map(r => (r.getInt(0), r.getLong(2))).toSeq ==
      Seq((0, 2L), (1, 1L)))
  }

  test("packing: offsets are the exact serial cumsum; bins cut at budget") {
    val docs = Seq((1L, 100L), (2L, 30L), (3L, 0L), (4L, 130L))
      .toDF("doc_id", "n")
    val out = Packing.packTokens(docs, "doc_id", col("n"), 64L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 0L, 100L, 0L, 1L),    // spans bins 0..1
      (2L, 100L, 130L, 1L, 2L),  // 100..129: ends exactly at a cut
      (3L, 130L, 130L, 2L, 2L),  // empty doc: point interval
      (4L, 130L, 260L, 2L, 4L))) // spans three bins
  }

  test("packing: distributed two-phase cumsum equals single-partition") {
    val docs = (1L to 1000L).map(i => (i, i % 7)).toDF("doc_id", "n")
    val packed = Packing.packTokens(docs, "doc_id", col("n"), 50L)
      .orderBy("doc_id").collect()
    var acc = 0L
    (1L to 1000L).zip(packed).foreach { case (i, r) =>
      assert(r.getLong(2) == acc, s"tok_start of doc $i")
      acc += i % 7
      assert(r.getLong(3) == acc, s"tok_end of doc $i")
    }
  }

  test("pagerank: star graph — hub rank exceeds leaves; leaves equal") {
    val edges = Seq(("h", "a"), ("h", "b"), ("h", "c"))
      .toDF("src", "dst")
    val r = Graphs.pageRankUndirected(edges, "src", "dst", 3)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("a") == r("b") && r("b") == r("c"))
    assert(r("h") > r("a"))
    // leaves send rank/1 to the hub, hub sends rank/3 to each leaf —
    // one iteration from uniform 1.0: hub = .15 + .85*3*(1/1) ... after
    // 3 rounds values stay in (0, 4]
    assert(r.values.forall(v => v > 0 && v <= 4.0))
  }

  test("pagerank: duplicate and reversed input edges collapse") {
    val base = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val noisy = Seq(("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"))
      .toDF("src", "dst")
    val r1 = Graphs.pageRankUndirected(base, "src", "dst", 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val r2 = Graphs.pageRankUndirected(noisy, "src", "dst", 2)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r1 == r2)
  }

  test("pagerank: total rank mass is conserved up to teleport identity") {
    // undirected regular graph (4-cycle): uniform stationary ranks — every
    // node keeps rank exactly 1.0 (0.15 + 0.85 * 2 * round6(1/2) = 1.0)
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val r = Graphs.pageRankUndirected(cyc, "src", "dst", 3).collect()
    assert(r.forall(_.getDouble(1) == 1.0))
  }

  test("countmin: estimates dominate exact counts; exact when no collision") {
    val keys = (1L to 200L).flatMap(k => Seq.fill((k % 5 + 1).toInt)(k))
    val df = keys.toDF("k")
    val sk = Sketches.countMin(df, col("k"), 2, 8)
    // sketch total mass per row j equals the input cardinality
    val mass = sk.groupBy("j").agg(sum("cnt").as("m")).collect()
    assert(mass.length == 2 && mass.forall(_.getLong(1) == keys.size))
    val est = Sketches
      .cmEstimate(sk, df.select(col("k")).distinct(), col("k"), 2, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // one-sided guarantee on every key
    exact.foreach { case (k, n) => assert(est(k) >= n, s"key $k") }
    // 200 keys into an 8-wide 2-deep sketch: collisions must occur
    assert(exact.exists { case (k, n) => est(k) > n })
  }

  test("countmin: sketches of disjoint corpora merge by bucket addition") {
    val a = (1L to 50L).toDF("k")
    val b = (51L to 120L).toDF("k")
    val merged = Sketches.countMin(a.union(b), col("k"), 3, 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val summed = Sketches.countMin(a, col("k"), 3, 16)
      .union(Sketches.countMin(b, col("k"), 3, 16))
      .groupBy("j", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == summed)
  }

  test("bpe: textbook corpus learns (l,o), (lo,w), (low,e) in order") {
    val docs = Seq((1L, "low lower lowest")).toDF("doc_id", "text")
    val m = BpeTrain.learnMerges(docs, col("text"), 3)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq(
      ("l", "o", "lo", 3L), ("lo", "w", "low", 3L), ("low", "e", "lowe", 2L)))
  }

  test("bpe: word frequency weights the pair counts") {
    // 'aa' appears 3 times, 'ab' once -> (a,a) with weight 3 wins over
    // the lexicographically-smaller-pair rule only through its count
    val docs = Seq((1L, "aa aa ab aa")).toDF("doc_id", "text")
    val m = BpeTrain.learnMerges(docs, col("text"), 1).collect().head
    assert((m.getString(1), m.getString(2), m.getLong(4)) == ("a", "a", 3L))
  }

  test("bpe: merge application is leftmost-non-overlapping") {
    // 'llll' under merge (l,l): -> (ll)(ll), then (ll,ll) merges next
    val docs = Seq((1L, "llll")).toDF("doc_id", "text")
    val m = BpeTrain.learnMerges(docs, col("text"), 2)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m.toSeq == Seq(("l", "l", 3L), ("ll", "ll", 1L)))
  }

  test("bpe: ties break in UTF-8 byte order; learning stops when no " +
      "pair is left") {
    // (U+FF41, b) and (U+1D41A, b) both count 1. UTF-8 orders U+FF41
    // (EF BD 81) first; String.compareTo would order U+1D41A first (its
    // high surrogate D835 < FF41)
    val docs = Seq((1L, "\uFF41b \uD835\uDC1Ab")).toDF("doc_id", "text")
    val m = BpeTrain.learnMerges(docs, col("text"), 5)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    // two merges exhaust the corpus: 5 asked for, 2 learned
    assert(m.toSeq == Seq(("\uFF41", "b", 1L), ("\uD835\uDC1A", "b", 1L)))
  }

  test("bpe: tokenCountWithMerges applies the learned chain") {
    val docs = Seq((1L, "low lower"), (2L, "wow")).toDF("doc_id", "text")
    val out = BpeTrain.tokenCountWithMerges(docs, "doc_id", col("text"),
      Seq(("l", "o"), ("lo", "w")))
      .orderBy("doc_id").collect()
    // doc 1: 'low' -> [low] (1), 'lower' -> [low, e, r] (3)
    assert(out(0).getLong(1) == 4L)
    // doc 2: 'wow' -> [w, o, w] untouched (no 'lo' to seed the chain)
    assert(out(1).getLong(1) == 3L)
  }
}

package graft.testqueries

import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.ops.{BpeTrain, Funnels, Graphs, Packing, Sketches}

/** Pipeline operators, batch 3 — ordered event funnels, corpus-level
  * sequence packing (concat-and-cut batch assembly), and
  * fixed-iteration PageRank. Funnels/PageRank extend the events/graph
  * analytics surface (the reference stops at per-problem aggregation);
  * packing is the training-loader step after [[MixQueries]]' mixture
  * and shuffle-order queries.
  */
object PipelineQueries {
  import Tables._

  /** Funnel stages: the three event types whose ordered path
    * signup -> purchase -> error the synthetic events table populates
    * at every scale factor. */
  private val FunnelStages = Seq("signup", "purchase", "error")

  /** Tokens per packing bin. Small enough that sf0.01 documents span
    * multiple bins (docs average ~50 words), large enough that several
    * documents share one bin — both branches of the interval/bin
    * arithmetic are exercised. */
  private val PackBudget = 128L

  /** PageRank iterations: enough rounds that rank has flowed across
    * the bipartite customer-supplier graph twice; unrolled verbatim in
    * the oracle's CTE chain. Damping 85/100 as an exact rational — the
    * whole recurrence is integer micro-unit arithmetic (see
    * [[graft.ops.Graphs]]: 6-dp FP rounding diverges between engines
    * exactly at the half-tie quotients PageRank produces). */
  private val PrIters = 3
  private val PrDampNum = 85L
  private val PrDampDen = 100L
  private val PrTeleportU =
    ((PrDampDen - PrDampNum) * 1000000L) / PrDampDen

  /** BPE merges to learn in q90: enough rounds that multi-character
    * subwords merge with each other on the synthetic vocabulary. */
  private val BpeK = 8

  /** DuckDB replay of [[graft.ops.BpeTrain.learnMerges]] for a fixed
    * round count: word-frequency table → |-wrapped symbol states →
    * per round, pair counts from adjacent symbols (`string_split` on
    * `||` after trimming the outer delimiters), the (count desc, pair
    * asc) argmax, and the wrapped literal replace `|l||r|` → `|lr|`
    * (leftmost-non-overlapping by construction — q99's encoding). */
  private def bpeLearnOracle(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS (
          SELECT syms[x] AS l, syms[x + 1] AS r, SUM(cnt)::BIGINT AS pc
          FROM (SELECT string_split(trim(s, '|'), '||') AS syms, cnt
                FROM w${i - 1}),
            UNNEST(range(1, len(syms))) t(x)
          GROUP BY 1, 2),
        m$i AS (SELECT l, r, pc FROM p$i ORDER BY pc DESC, l, r LIMIT 1),
        w$i AS (
          SELECT replace(w.s, '|' || m.l || '||' || m.r || '|',
            '|' || m.l || m.r || '|') AS s, w.cnt
          FROM w${i - 1} w CROSS JOIN m$i m)"""
    }.mkString(",\n        ")
    val union = (1 to k).map { i =>
      s"""SELECT $i::INT AS rank, l AS "left", r AS "right",
          l || r AS merged, pc AS pair_cnt FROM m$i"""
    }.mkString("\n        UNION ALL ")
    s"""WITH wf AS (
        SELECT replace(w, '|', '') AS w, SUM(c)::BIGINT AS cnt FROM (
          SELECT w, COUNT(*)::BIGINT AS c FROM (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents WHERE length(trim(text)) > 0)
          GROUP BY w)
        WHERE length(replace(w, '|', '')) > 0 GROUP BY 1),
      w0 AS (
        SELECT regexp_replace(w, '(.)', '|\\1|', 'g') AS s, cnt FROM wf),
      $rounds
      SELECT * FROM (
        $union)
      ORDER BY rank"""
  }

  /** Count-Min geometry for q91/q92: width 64 over a few hundred
    * distinct users at sf0.01 forces real collisions (est > exact for
    * some keys) while the 4 independent rows keep most estimates
    * exact — both sides of the guarantee are exercised, and the
    * geometry stays fixed as the corpus scales. */
  private val CmDepth = 4
  private val CmWidth = 64
  private val cmFamilySql = (0 until CmDepth)
    .map(j => s"(${j}, ${Fns.hashA(j)}, ${Fns.hashB(j)})")
    .mkString(", ")

  def all: Seq[QueryDef] = Seq(

    // Ordered funnel over events: per stage, how many users reach it
    // (stage k counts only events strictly after the user's stage-k-1
    // time) and the exact integer sum of micros from each user's
    // stage-0 time. One exchange + one sort + k chained running-min
    // windows — no per-stage self-joins (the oracle spells out the
    // k-join formulation the Spark side avoids).
    QueryDef("q87_event_funnel",
      (s, d) => Funnels.funnelCounts(events(s, d), "user_id", "ts",
        "event_type", FunnelStages),
      Some("""WITH e AS (
          SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            event_type AS et
          FROM events),
        s0 AS (SELECT u, MIN(us) AS t0 FROM e
               WHERE et = 'signup' GROUP BY u),
        s1 AS (SELECT e.u, MIN(us) AS t1 FROM e JOIN s0 USING (u)
               WHERE et = 'purchase' AND us > t0 GROUP BY e.u),
        s2 AS (SELECT e.u, MIN(us) AS t2 FROM e JOIN s1 USING (u)
               WHERE et = 'error' AND us > t1 GROUP BY e.u)
        SELECT * FROM (
          SELECT 0 AS stage, 'signup' AS stage_name,
            COUNT(*)::BIGINT AS n_users, 0::BIGINT AS sum_us_from_start
          FROM s0 HAVING COUNT(*) > 0
          UNION ALL
          SELECT 1, 'purchase', COUNT(*)::BIGINT,
            SUM(t1 - t0)::BIGINT
          FROM s1 JOIN s0 USING (u) HAVING COUNT(*) > 0
          UNION ALL
          SELECT 2, 'error', COUNT(*)::BIGINT, SUM(t2 - t0)::BIGINT
          FROM s2 JOIN s0 USING (u) HAVING COUNT(*) > 0)
        ORDER BY stage""")),

    // Concat-and-cut sequence packing: global token offsets under
    // doc_id concat order, cut into 128-token bins. The Spark side is
    // a two-phase distributed prefix sum (range sort + parallel
    // per-partition windows + P-row offset broadcast); the oracle is
    // the single-threaded window cumsum the distributed form must
    // equal bit-for-bit.
    QueryDef("q88_token_packing",
      // sortedP, not a bare sortWithinPartitions: packTokens' output is
      // narrow over its localCheckpoint, and checkpoint blocks carry
      // locality preferences that route a downstream coalesce(1)
      // through the locality-aware partition coalescer — partition
      // CONCAT order is then unspecified (sf10 gate caught the dump
      // rotated). The range exchange re-establishes ordered ranges and
      // strips the locality prefs; it shuffles six longs per doc.
      (s, d) => QueryDef.sortedP(
        Packing.packTokens(documents(s, d), "doc_id",
          size(Fns.words(col("text"))), PackBudget),
        col("doc_id")),
      Some(s"""WITH t AS (
          SELECT doc_id,
            len(string_split_regex(trim(text), '\\s+'))::BIGINT
              AS n_toks
          FROM documents),
        c AS (
          SELECT doc_id, n_toks,
            SUM(n_toks) OVER (ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING)::BIGINT AS tok_end
          FROM t)
        SELECT doc_id, n_toks, tok_end - n_toks AS tok_start,
          tok_end,
          (tok_end - n_toks) // ${PackBudget} AS bin_start,
          GREATEST(tok_end - n_toks, tok_end - 1) // ${PackBudget}
            AS bin_end
        FROM c ORDER BY doc_id""")),

    // Fixed-iteration PageRank on the undirected bipartite
    // customer-supplier graph (an edge per distinct (custkey, suppkey)
    // pair appearing in an order). Each round: one edge-list join +
    // one aggregation; the recurrence is pure integer micro-unit
    // arithmetic (rational damping, floor-div contributions, integer
    // sums), so the oracle's unrolled three-CTE chain replays it
    // bit-for-bit with no rounding semantics in play.
    QueryDef("q89_pagerank", {
      (s, d) =>
        val edges = orders(s, d)
          .join(lineitem(s, d),
            col("o_orderkey") === col("l_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
        QueryDef.sortedP(
          Graphs.pageRankUndirected(edges, "src", "dst", PrIters,
            PrDampNum, PrDampDen),
          col("node"))
    },
      Some {
        def step(prev: String, out: String): String =
          s"""$out AS (
            SELECT e.dst AS node,
              (${PrTeleportU} + SUM(
                (${PrDampNum} * r.rank_u) // (${PrDampDen} * e.deg)
              ))::BIGINT AS rank_u
            FROM ed e JOIN $prev r ON e.src = r.node
            GROUP BY e.dst)"""
        s"""WITH raw AS (
            SELECT DISTINCT 'c' || o.o_custkey AS src,
              's' || l.l_suppkey AS dst
            FROM orders o JOIN lineitem l
              ON o.o_orderkey = l.l_orderkey),
          sym AS (
            SELECT src, dst FROM raw
            UNION SELECT dst AS src, src AS dst FROM raw),
          dg AS (SELECT src AS node, COUNT(*)::BIGINT AS deg
                 FROM sym GROUP BY src),
          ed AS (SELECT s.src, s.dst, d.deg FROM sym s
                 JOIN dg d ON s.src = d.node),
          r0 AS (SELECT node, 1000000::BIGINT AS rank_u FROM dg),
          ${step("r0", "r1")},
          ${step("r1", "r2")},
          ${step("r2", "r3")}
          SELECT node, CAST(rank_u AS DOUBLE) / 1000000.0 AS rank
          FROM r3 ORDER BY node"""
      }),

    // BPE merge learning on the corpus word-frequency table. Each
    // merge depends on all earlier merges, but for fixed k the whole
    // learning run is one SQL statement: k chained CTE rounds over the
    // |-wrapped word states (q99's encoding — replace-all on wrapped
    // symbols IS the leftmost-non-overlapping merge fold,
    // property-asserted in PipelineOpsSpec), each round one pair-count
    // aggregation + one (count desc, pair asc) argmax + one literal
    // replace. Determinism comes from that tie-break; the textbook
    // example corpus is additionally spec-asserted by hand. The merge
    // table comes back in rank order, so the query adds no sort.
    QueryDef("q90_bpe_merges",
      (s, d) => BpeTrain.learnMerges(documents(s, d), col("text"), BpeK),
      Some(bpeLearnOracle(BpeK))),

    // Count-Min sketch build over the events key: the shuffle is
    // sketch-sized (map-side combine collapses each task to at most
    // depth*width rows), and every counter replays exactly in DuckDB
    // because the hash family is the portable md5-derived one.
    QueryDef("q91_countmin_sketch",
      (s, d) => Sketches.countMin(events(s, d), col("user_id"),
          CmDepth, CmWidth)
        .orderBy("j", "bucket"),
      Some(s"""WITH h AS (
          SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
            ::BIGINT % ${Fns.HashP}) AS h
          FROM events),
        bk AS (
          SELECT f.j, ((f.a * h.h + f.b) % ${Fns.HashP}) % ${CmWidth}
            AS bucket
          FROM h, (VALUES ${cmFamilySql}) AS f(j, a, b))
        SELECT j, bucket, COUNT(*) AS cnt
        FROM bk GROUP BY j, bucket ORDER BY j, bucket""")),

    // Sketch point estimates vs exact counts per key — the classic
    // one-sided guarantee (est >= exact, equality unless all depth
    // buckets collide) becomes a checkable table.
    QueryDef("q92_sketch_estimates", {
      (s, d) =>
        val ev = events(s, d)
        val sk = Sketches.countMin(ev, col("user_id"), CmDepth, CmWidth)
        val exact = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("exact_n"))
        val est = Sketches
          .cmEstimate(sk, ev.select(col("user_id")).distinct(),
            col("user_id"), CmDepth, CmWidth)
          .select(col("key").as("user_id"), col("est").as("est_n"))
        QueryDef.sortedP(exact.join(est, "user_id"), col("user_id"))
    },
      Some(s"""WITH h AS (
          SELECT user_id,
            (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              ::BIGINT % ${Fns.HashP}) AS h
          FROM events),
        bk AS (
          SELECT user_id, f.j,
            ((f.a * h.h + f.b) % ${Fns.HashP}) % ${CmWidth} AS bucket
          FROM h, (VALUES ${cmFamilySql}) AS f(j, a, b)),
        sk AS (
          SELECT j, bucket, COUNT(*) AS cnt
          FROM bk GROUP BY j, bucket),
        ex AS (
          SELECT user_id, COUNT(*) AS exact_n
          FROM events GROUP BY user_id),
        probes AS (
          SELECT DISTINCT user_id, j, bucket FROM bk),
        est AS (
          SELECT p.user_id, MIN(COALESCE(sk.cnt, 0)) AS est_n
          FROM probes p LEFT JOIN sk USING (j, bucket)
          GROUP BY p.user_id)
        SELECT user_id, exact_n, est_n
        FROM ex JOIN est USING (user_id)
        ORDER BY user_id"""))
  )
}

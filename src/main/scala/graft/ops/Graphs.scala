package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — fixed-iteration PageRank
  * over an undirected graph. Connected components live in
  * [[Dedup.nearDupGroups]]; this adds the other staple the reference's
  * analytics surface lacks entirely (its pipeline has no graph
  * operator — `/root/reference/olake/stats.py` stops at per-problem
  * aggregation).
  *
  * Scale shape per iteration: one shuffle join of the (cached) edge
  * list with the current rank vector on `src`, one hash aggregation on
  * `dst` — the standard distributed PageRank step, O(|E|) work and
  * O(|V|) state per round, no driver-side structures beyond the node
  * count its broadcast gate reads. Ranks are `localCheckpoint`ed every
  * `checkpointEvery` rounds so the lineage (and therefore task binary
  * size / replay cost) stays flat in the iteration count. Triangle
  * counting ([[triangleCount]]) is one lazy plan.
  *
  * Determinism discipline — STRONGER than the q84/q85 round-to-6dp
  * rule: rank is carried in integer MICRO-units and damping as the
  * rational 85/100, so each edge contribution is one exact integer
  * floor division and each update an exact integer sum. The 6-dp FP
  * rounding the text operators use is NOT safe here: rank/degree
  * quotients of 6-dp values land exactly on half-of-1e-6 tie points,
  * where Spark (HALF_UP on the double's shortest decimal repr, via
  * BigDecimal.valueOf) and DuckDB (rounding the exact binary value)
  * disagree — measured at sf1 (6,200/16,000 nodes off by 1e-6 scale)
  * while sf0.01 passed. Integer arithmetic has no ties to break.
  */
object Graphs {

  /** PageRank with `iters` synchronous iterations on the undirected
    * graph given by `edges` (deduplicated and symmetrized internally),
    * in the classic UNNORMALIZED form (rank init 1, update
    * `teleport + damping * sum(rank/deg)`) with damping expressed as
    * the rational `dampNum/dampDen` (default 85/100) and rank carried
    * in integer micro-units: per edge one exact
    * `(dampNum * rank_u) div (dampDen * deg)` floor division, per node
    * one exact integer sum — no FP anywhere in the recurrence, so any
    * engine replays it bit-for-bit. The final `rank` column is the one
    * double conversion `rank_u / 1e6` (exact below 2^53 micro-units).
    * Unnormalized also keeps the graph size N out of the arithmetic —
    * a data-dependent 1/N constant would need identical cross-engine
    * rounding, the same tie-break trap the integer form eliminates.
    * Returns (node, rank) for every node incident to an edge.
    *
    * Shape (round 12, guide §2.4/§3.1 — a measured rework): the old
    * form attached `deg` to every EDGE row with a 2|E|-row self-derived
    * join before checkpointing, and that build — not the iterations —
    * was ~85% of q89's wall time (eWithDeg 4.2 s of the 4.4 s
    * query; iterations added <0.2 s each). Degrees are a NODE property,
    * so they now ride with the |V|-row rank table instead: the edge
    * list checkpoints straight after the symmetrize+distinct, and each
    * round joins edges ⋈ (ranks ⋈ deg). The rank side is size-gated
    * (the lshTopK discipline): at or under `broadcastNodeLimit` nodes
    * it BROADCASTS — the checkpointed edge list then never shuffles or
    * sorts in any round, and the per-node partial aggregation collapses
    * map-side before the one |V|-sized exchange — past the gate (or
    * `broadcastRanks = Some(false)`) it falls back to a shuffle_hash
    * join on `src` (build side = the |V|-row rank table; no sort of
    * the edge stream). The default gate (4M nodes ≈ 150-200 MB built)
    * is executor-memory-bounded, not corpus-bounded: |V| grows far
    * slower than |E| on real graphs, and a 100 TB edge list with >4M
    * distinct nodes takes the shuffle path automatically.
    */
  def pageRankUndirected(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int, dampNum: Long = 85L,
      dampDen: Long = 100L, checkpointEvery: Int = 4,
      broadcastRanks: Option[Boolean] = None,
      broadcastNodeLimit: Long = 4000000L): DataFrame = {
    require(iters >= 1, "pageRankUndirected needs at least one iteration")
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    require(dampNum > 0 && dampDen > dampNum,
      "damping must be a rational in (0, 1)")
    // Symmetrized distinct edge list, materialized once and streamed
    // by every round — deliberately WITHOUT degrees attached (see
    // scaladoc: the old 2|E| deg-attach join dominated the query).
    // Round 12 (guide §2.3 — shuffle fewer bytes): dedupe on the
    // CANONICAL (least, greatest) form FIRST — |E| rows through the
    // distinct exchange instead of the old symmetrize-then-distinct
    // 2|E| — then emit both directions as a narrow map-side union
    // (the reverse of a canonical row can never collide with another
    // canonical row, and self-loops emit once), which is exactly the
    // old UNION-DISTINCT row set. The checkpoint stays on the expanded
    // 2|E| set (`sym` below) so every round streams cached expanded
    // blocks; only the distinct EXCHANGE shrank to |E| rows.
    // keep-orientation predicate: ascending pairs stay, nulls go to
    // the dst side (NOT `least`/`greatest`, which silently DROP nulls
    // — the old union-distinct kept (x, NULL) and (NULL, x) as two
    // rows, and this canonicalization must round-trip to that set).
    val keep = col("s0") <= col("d0") || col("d0").isNull
    val canon = edges
      .select(col(srcCol).cast("string").as("s0"),
        col(dstCol).cast("string").as("d0"))
      .select(when(keep, col("s0")).otherwise(col("d0")).as("src"),
        when(keep, col("d0")).otherwise(col("s0")).as("dst"))
      .distinct()
    // Both directions, minus a duplicate of null-safe self-loops: a
    // reversed canonical row can never collide with a different
    // canonical row, so this expansion IS the old 2|E| union-distinct
    // set without paying the distinct on 2|E| rows. Explode, not a
    // self-union: two union branches each re-run the post-exchange
    // distinct aggregation (measured +0.5 s — exchange reuse only
    // dedupes the map side), while one Generate doubles the rows in
    // the same stage. The expansion is checkpointed (LAZY: the deg
    // aggregation below, materialized by the gate's count, is the
    // first consumer and caches the blocks as a side effect), so each
    // round streams cached 2|E| blocks rather than re-expanding.
    val fwd = struct(col("src"), col("dst"))
    val rev = struct(col("dst").as("src"), col("src").as("dst"))
    val sym = canon
      .select(explode(when(col("src") <=> col("dst"), array(fwd))
        .otherwise(array(fwd, rev))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(false)
    // Node degrees: |V| rows off the checkpointed edges (map-side
    // combined), reused by every round's rank side.
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val bcast = broadcastRanks.getOrElse(
      deg.count() <= broadcastNodeLimit) // count over cached blocks
    // teleport = (1 - damping) in micro-units: exact by construction.
    val teleportU = ((dampDen - dampNum) * 1000000L) / dampDen
    // Initial ranks: a projection of the checkpointed deg table (no
    // separate materialization needed).
    var ranks = deg.select(col("node"), lit(1000000L).as("rank_u"))
    // Checkpoint cadence: an EAGER checkpoint per round is a full
    // materialization + job per iteration — for short chains the
    // un-checkpointed lineage (each round references the previous
    // exactly once) executes as ONE job of chained join+agg stages.
    // Checkpoint only every `checkpointEvery` rounds to truncate
    // lineage on long runs; integer arithmetic makes replay-vs-
    // materialize semantically indistinguishable.
    for (i <- 1 to iters) {
      // Rank side of the round: (src, rank_u, deg) — |V| rows. Every
      // rank node is a deg node by construction (round outputs range
      // over sym's dst values = all nodes), so the inner join loses
      // nothing.
      val rd = ranks.join(
          if (bcast) broadcast(deg) else deg.hint("shuffle_hash"),
          "node")
        .select(col("node").as("src"), col("rank_u"), col("deg"))
      val rSide = if (bcast) broadcast(rd) else rd.hint("shuffle_hash")
      ranks = sym.join(rSide, "src")
        .groupBy(col("dst").as("node"))
        .agg((lit(teleportU) +
          sum(expr(s"(${dampNum}L * rank_u) div (${dampDen}L * deg)")))
          .as("rank_u"))
      if (i % checkpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"),
      (col("rank_u").cast("double") / lit(1000000.0)).as("rank"))
  }

  /** Triangle count by ordered edge enumeration (the standard
    * distributed formulation): canonicalize each undirected edge to
    * `a < b`, then count paths `a-b-c` with `a < b < c` that close via
    * a third edge `a-c`. The ordering makes every triangle count
    * exactly once and keeps both joins equi-joins on edge endpoints —
    * shuffle work is edges ⋈ edges on a shared endpoint (Σ deg², the
    * wedge count), never an n² node product. Returns one lazy row:
    * (n_nodes, n_edges, n_triangles), three 1-row aggregates
    * cross-joined; the canonical edge set's distinct is planned once
    * per consumer and shared at run time by AQE's exchange reuse.
    */
  def triangleCount(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") < col("b")) // drop self-loops
      .distinct()
    val wedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
    val triangles = wedges.join(e.select(col("a"), col("b").as("c")),
      Seq("a", "c"), "left_semi")
    def n(df: DataFrame, name: String) = df.agg(count(lit(1)).as(name))
    n(e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .distinct(), "n_nodes")
      .crossJoin(n(e, "n_edges"))
      .crossJoin(n(triangles, "n_triangles"))
  }
}

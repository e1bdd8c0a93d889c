package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Locks in the scale-critical physical-plan shapes PLANS.md documents —
  * the properties that make queries survive a 100× scale-up. A change
  * that silently reintroduces an extra shuffle or a single-task global
  * sort fails HERE, not at cluster scale.
  *
  * Shuffle counts are read from the formatted initial plan (AQE may
  * later coalesce partitions; it never ADDS exchanges).
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def byName(name: String): DataFrame =
    graft.testqueries.Registry.all.find(_.name == name).get.run(spark, sf)

  /** (shuffle exchanges, broadcast exchanges) in the initial plan. */
  private def exchanges(df: DataFrame): (Int, Int) = {
    val plan = df.queryExecution.executedPlan.toString
    val shuffle = "(?<!Broadcast)Exchange ".r.findAllIn(plan).size
    val bcast = "BroadcastExchange ".r.findAllIn(plan).size
    (shuffle, bcast)
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q03: one range exchange, two broadcasts, no single-task sort") {
    val df = byName("q03_three_way_join")
    val plan = planOf(df)
    val (sh, bc) = exchanges(df)
    assert(sh == 1, s"expected exactly one shuffle exchange:\n$plan")
    assert(bc == 2, s"expected two broadcast dims:\n$plan")
    assert(plan.contains("rangepartitioning"),
      "the one exchange must be the pre-join range partition")
    assert(!plan.contains("Exchange SinglePartition"),
      "single-task global sort is a 100x scale-killer")
  }

  test("ingest regroup: exactly one shuffle end-to-end (clustered path)") {
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
      .selectExpr("'e1' AS EXECUTIONID",
        "concat('p', l_orderkey % 3) AS ABSTRACTIONID",
        "concat('s', l_suppkey % 5) AS SYSTEMID", "'' AS VARIANTID",
        "'0' AS ADAPTERID", "concat('t', l_partkey % 7) AS SHEETID",
        "'a1' AS ARENAID", "1 AS X", "l_linenumber AS Y",
        "'value' AS TYPE", "CAST(l_quantity AS STRING) AS VALUE",
        "CAST(l_quantity AS DOUBLE) AS EXECUTIONTIME")
    val obs = graft.ingest.ArenaIngest.observationsFromArena(
      graft.ingest.ArenaIngest.clusterByProblem(raw), "DS")
    val (sh, _) = exchanges(obs)
    assert(sh == 1,
      s"clusterByProblem must satisfy the regroup's distribution:\n" +
        planOf(obs))
  }

  test("q09 clustering: one fused SigListAgg fingerprint per supplier") {
    val df = byName("q09_behavioral_clustering")
    val plan = planOf(df)
    val (sh, _) = exchanges(df)
    assert(plan.contains("graft_sig_list"),
      s"q09 must fingerprint through SigListAgg:\n$plan")
    // exchanges: l_suppkey grouping, fp_hash regroup, final 1-part sort
    assert(sh == 3, s"expected 3 exchanges (got $sh):\n$plan")
  }

  test("q16 exact dedup: a single shuffle on the content digest") {
    val df = byName("q16_dedup_exact")
    val (sh, _) = exchanges(df)
    assert(sh <= 2, // digest groupBy + deterministic output sort
      s"dedup must be one digest shuffle (+ output sort):\n${planOf(df)}")
  }

  test("q90: the local merge table runs with no exchange, in rank " +
      "order") {
    val df = byName("q90_bpe_merges")
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"q90's merges are already in rank order:\n$plan")
    val ranks = df.collect().map(_.getAs[Int]("rank")).toSeq
    assert(ranks.nonEmpty && ranks == (1 to ranks.size), ranks)
  }

  test("no corpus-proportional declared query sorts through one task") {
    // Single-task sorts (Exchange SinglePartition) are allowed ONLY for
    // provably bounded results or inherent 1-row scalar aggregates.
    // Everything else must produce its total order in parallel
    // (rangepartitioning + sortWithinPartitions).
    val allowed: Map[String, String] = Map(
      "q09_behavioral_clustering" -> "clusters ≪ corpus (ranked head)",
      "q11_two_level_agg" -> "global scalar aggregate: 1 row",
      "q22_minhash_lsh_candidates" -> "threshold-filtered pair list",
      "q23_ngram_jaccard" -> "threshold-filtered pair list",
      "q25_cosine_topk" -> "top-k per query vector",
      "q26_embedding_neardup" -> "threshold-filtered pair list",
      "q34_rollup" -> "grouping-set cells",
      "q37_scalar_subquery" -> "broadcast 1-row scalar aggregate",
      "q44_cube" -> "grouping-set cells",
      "q50_consensus_verdicts" -> "implementations ≪ observations",
      "q55_grouping_sets" -> ("grand-total set re-aggregates the " +
        "bounded once-aggregated base (rows = product of key " +
        "cardinalities), not the corpus"),
      "q56_tfidf" -> ("broadcast 1-row corpus-size aggregate (the " +
        "output sort itself is a parallel range sort)"),
      "q71_gapfill_resample" -> ("1-row global min/max bounds aggregate " +
        "feeding the hour grid (the output sort is a parallel range " +
        "sort)"),
      "q73_fuzzy_join" -> "threshold-filtered pair list",
      "q85_bm25_topk" -> ("broadcast 1-row corpus-stats aggregate " +
        "(N + total length); the ranking itself is a TakeOrdered, " +
        "not a global sort"),
      "q95_pmi_bigrams" -> ("broadcast 1-row pair-total aggregate " +
        "over the vocabulary²-bounded checkpointed pair table (the " +
        "output sort is a parallel range sort)"),
      "q101_triangle_count" ->
        "1-row scalar aggregates (n_nodes, n_edges, n_triangles)",
      "q104_kmv_distinct" -> ("event-type groups ≪ corpus (sketch " +
        "rows: one per group, each O(k) state)"),
      "q114_lsh_topk" -> "top-k per query vector (≤ 8×5 rows)",
      "q116_ivf_topk" -> ("top-k per query vector (≤ 8×5 rows) PLUS " +
        "the 1-row corpus-mass total aggregate the adaptive probe " +
        "budget divides by"),
      "q118_lsh_multiprobe" -> "top-k per query vector (≤ 8×5 rows)",
      "q119_ann_selector" -> ("top-k per query vector (≤ 8×5 rows); " +
        "annSelect's statistic aggregates run eagerly at construction " +
        "and never appear in the returned plan"),
      "q120_ivf_topk_quantized" -> ("top-k per query vector (≤ 8×5 " +
        "rows) PLUS the 1-row corpus-mass total aggregate (the q116 " +
        "shape with an int8 candidate scan)"),
      "q107_windowed_kmv_rollup" -> ("event-type groups ≪ corpus " +
        "(one rolled-up sketch row per group)"))
    // bounded single-partition exchanges permitted per allowed query
    // (default 1): q116 carries the mass-total scalar AND the sorted
    // top-k head; q101 one per scalar count
    val allowedCount = Map("q116_ivf_topk" -> 2,
      "q120_ivf_topk_quantized" -> 2, "q101_triangle_count" -> 3)
    // q58 excluded: building its frame executes the full
    // write→stream→append loop (side effects, ~seconds); its final
    // query is perProblemStats, which ends in a parallel orderBy.
    val skip = Set("q58_stream_ingest_stats")
    graft.testqueries.Registry.all
      .filterNot(q => skip(q.name)).foreach { q =>
        val plan = planOf(q.run(spark, sf))
        val singles = "Exchange SinglePartition".r.findAllIn(plan).size
        if (allowed.contains(q.name)) {
          val cap = allowedCount.getOrElse(q.name, 1)
          assert(singles <= cap,
            s"${q.name}: bounded allowlist permits $cap single-partition " +
              s"exchange(s) (${allowed(q.name)}), found $singles:\n$plan")
        } else {
          assert(singles == 0,
            s"${q.name} plans a single-task exchange — a corpus-" +
              s"proportional output must range-sort in parallel:\n$plan")
        }
      }
  }

  test("no range-partition exchange samples a join (double-execution)") {
    // repartitionByRange's RangePartitioner SAMPLES its child, so any
    // join below a range exchange executes twice — the q53/q39 trap.
    // The fix is QueryDef.sortedPMat (localCheckpoint first: the
    // exchange then reads an ExistingRDD scan) or placing the range
    // partition below the join. Queries where the only join under a
    // range exchange broadcasts a 1-row scalar (replay ≈ the scan the
    // sample pays anyway) are allowlisted explicitly.
    val allowed = Set(
      "q37_scalar_subquery", // broadcast 1-row scalar join
      "q56_tfidf") // broadcast 1-row corpus-size aggregate
    val skip = Set("q58_stream_ingest_stats") // side-effecting gate
    graft.testqueries.Registry.all
      .filterNot(q => skip(q.name) || allowed(q.name)).foreach { q =>
        val plan = q.run(spark, sf).queryExecution.executedPlan
        val offending = plan.collect {
          case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical
                .RangePartitioning] &&
              e.child.collect {
                case j if j.nodeName.contains("Join") => j
              }.nonEmpty => e
        }
        assert(offending.isEmpty,
          s"${q.name}: range-partition exchange would sample (and " +
            s"re-execute) a join — use QueryDef.sortedPMat:\n$plan")
      }
  }

  test("no declared tail is narrow over cached/checkpointed partitions") {
    // The q88 sf10 find: Verify's coalesce(1) groups partitions via the
    // locality-aware coalescer, and a final stage whose narrow lineage
    // reaches cached/localCheckpointed partitions carries per-block
    // executor locations — block EVICTION then makes the location set
    // partial and the partition CONCAT order rotates (values exact,
    // file order wrong). A shuffle boundary both re-establishes
    // ordered ranges and cuts the location walk, so: every declared
    // query's final stage must NOT reach a materialized RDD without
    // crossing a shuffle. SCALE.md "sf10 executed-correctness gate" has
    // the post-mortem.
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    def materializedInFinalStage(r: RDD[_]): Boolean =
      (r.getStorageLevel != StorageLevel.NONE || r.isCheckpointed) ||
        r.dependencies.exists {
          case d: org.apache.spark.NarrowDependency[_] =>
            materializedInFinalStage(d.rdd)
          case _ => false // shuffle boundary: below is a separate stage
        }
    // positive control: the pre-fix q88 tail form (bare
    // sortWithinPartitions narrow over packTokens' localCheckpoint)
    // MUST trip the detector, or this guard guards nothing
    val preFix = graft.ops.Packing.packTokens(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      size(split(trim(col("text")), "\\s+")), 128L)
      .sortWithinPartitions("doc_id")
    assert(materializedInFinalStage(preFix.queryExecution.toRdd),
      "detector failed to flag the known-bad pre-fix q88 tail form")
    val skip = Set("q58_stream_ingest_stats") // side-effecting build
    graft.testqueries.Registry.all
      .filterNot(q => skip(q.name)).foreach { q =>
        val rdd = q.run(spark, sf).queryExecution.toRdd
        assert(!materializedInFinalStage(rdd),
          s"${q.name}: final stage is narrow over cached/checkpointed " +
            "partitions — partition-order-dependent sinks (Verify's " +
            "single-file dump) can come out rotated under block " +
            "eviction; end the query in QueryDef.sortedP/an exchange")
      }
  }

  test("no declared plan aggregates over a ReplicateRows expansion") {
    // The q45 find: Spark rewrites exceptAll/intersectAll as ±1 counts
    // → Generate(ReplicateRows) → and on a low-cardinality key the
    // pre-Generate Exchange hashes to ≤k tasks, so the Generate
    // re-materializes corpus-sized row counts out of k buffer rows
    // through those few tasks (measured: 97.5 s at sf10 for 6 output
    // rows). The expansion is legitimate ONLY when the rows themselves
    // are the output (Lakehouse.changeDiff's CDC row stream); the
    // moment an Aggregate sits above it, the plan materialized |bag|
    // rows just to count them back down — use ops/Multiset or
    // Lakehouse.changeDiffCounts instead. Detector sanity both ways:
    // the built-in count-consumer form must trip, the pure row-stream
    // form must not.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // AdaptiveSparkPlanExec is a LEAF node — collect() stops at it, so
    // unwrap to the inner (pre-AQE) plan before walking.
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case other => other
    }
    def aggOverReplicate(p: SparkPlan): Boolean = unwrap(p).collect {
      case n if n.nodeName.contains("Aggregate") &&
        n.children.exists(_.toString.toLowerCase
          .contains("replicaterows")) => n
    }.nonEmpty
    def offends(df: DataFrame): Boolean = {
      val exec = df.queryExecution.executedPlan
      aggOverReplicate(exec) ||
        unwrap(exec).subqueries.exists(aggOverReplicate)
    }
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_returnflag").as("f"))
    val preFix = li.exceptAll(li.limit(10)).groupBy("f").count()
    assert(offends(preFix),
      "detector failed to flag the known-bad built-in exceptAll form")
    val rowStream = li.exceptAll(li.limit(10)) // expansion IS output
    assert(!offends(rowStream),
      "detector must allow an output-sized CDC row expansion")
    val skip = Set("q58_stream_ingest_stats") // side-effecting build
    graft.testqueries.Registry.all
      .filterNot(q => skip(q.name)).foreach { q =>
        val df = q.run(spark, sf)
        assert(!offends(df),
          s"${q.name}: an Aggregate consumes a Generate(ReplicateRows)" +
            s" expansion — materializing the bag to count it back " +
            s"down; use ops/Multiset or changeDiffCounts:\n" +
            planOf(df))
      }
  }

  test("no broadcast exchange builds from an un-aggregated explode") {
    // The q84 find: the planner sizes a join leg by its PRE-explode
    // scan bytes, so an exploded corpus stream can look "small enough
    // to broadcast" and the join flips to building the corpus side
    // (measured: 37M-row broadcast at sf3, 6.5x slower than the
    // explicit vocab broadcast). A BroadcastExchange whose subtree
    // contains a Generate with NO aggregation in between is that bug
    // class — an aggregation collapses cardinality and makes the
    // estimate honest again. Corpus-proportional legs must never be
    // planner-chosen build sides: broadcast the bounded side
    // explicitly (unigramLmScore, bm25Rank) or hint shuffle_hash.
    import org.apache.spark.sql.execution.SparkPlan
    def rawGenerateBelow(n: SparkPlan): Boolean =
      if (n.nodeName.contains("Aggregate")) false
      else n.nodeName.contains("Generate") ||
        n.children.exists(rawGenerateBelow)
    val skip = Set(
      "q58_stream_ingest_stats", // side-effecting build
      // q118's query-side probe explode is BOUNDED (probes <= planes+1,
      // a <=9x constant on an 8-row query set) and its broadcast is
      // explicitly pinned by the caller (queryBroadcast=Some(true)) —
      // not the planner-estimated corpus-leg flip this test guards
      "q118_lsh_multiprobe")
    graft.testqueries.Registry.all
      .filterNot(q => skip(q.name)).foreach { q =>
        val plan = q.run(spark, sf).queryExecution.executedPlan
        val hits = plan.collect {
          case n if n.nodeName.contains("BroadcastExchange") &&
            rawGenerateBelow(n) => n
        }
        assert(hits.isEmpty,
          s"${q.name}: broadcast builds from an un-aggregated explode " +
            "— the pre-explode size estimate can flip the build side " +
            s"to the corpus leg at scale:\n$plan")
      }
  }

  test("lshTopK query-side join is size-gated: broadcast below the " +
      "autoBroadcastJoinThreshold, shuffle join above it (round 11)") {
    import graft.ops.Similarity
    val vecs = spark.range(200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)), d =>
        (pmod(xxhash64(col("id"), d), lit(100)).cast("double") / 50 - 1)
          .cast("float")).as("embedding"))
    val small = vecs.filter(col("vec_id") < 4).limit(4)
    def bcasts(df: DataFrame): Int = exchanges(df)._2
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      // small query set under the default threshold: broadcast plan
      assert(bcasts(Similarity.lshTopK(vecs, small, "vec_id",
        "embedding", k = 3, planes = 4, dims = 8)) == 1)
      // ... and for the multi-probe variant
      assert(bcasts(Similarity.lshTopKMultiProbe(vecs, small, "vec_id",
        "embedding", k = 3, planes = 4, dims = 8, probes = 2)) == 1)
      // above the threshold the SAME call plans a shuffle join on the
      // bucket key — no driver-broadcast of a shard-scale query set
      spark.conf.set(key, "1")
      val sharded = Similarity.lshTopK(vecs, vecs, "vec_id",
        "embedding", k = 3, planes = 4, dims = 8)
      assert(bcasts(sharded) == 0, planOf(sharded))
      assert(exchanges(sharded)._1 > 0)
    } finally spark.conf.set(key, saved)
    // the caller override beats the estimate in both directions, at
    // the DEFAULT threshold (hinted shuffle_hash outranks size-based
    // broadcast in JoinSelection)
    val pinnedShuffle = Similarity.lshTopK(vecs, small, "vec_id",
      "embedding", k = 3, planes = 4, dims = 8,
      queryBroadcast = Some(false))
    assert(bcasts(pinnedShuffle) == 0, planOf(pinnedShuffle))
  }

  test("interactive canonical path stays a single stage, zero exchanges") {
    // the zero-shuffle claim covers SRM, clustering and the three-way
    // join (its two dims travel as broadcast exchanges, not shuffles);
    // per_problem_stats is NOT claimed — its countDistinct Expand
    // rewrite plans distinct-stage exchanges
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    import graft.queries.CanonicalQueries
    // the plan a collect ran: AQE's final plan, result stage unwrapped
    def resultRoot(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => resultRoot(a.executedPlan)
      case s: QueryStageExec => resultRoot(s.plan)
      case other => other
    }
    val Seq(one, code, tests) = Seq(Fixtures.observations, Fixtures.code,
      Fixtures.tests).map(CanonicalQueries.interactive)
    val join = CanonicalQueries.threeWayJoin(one, code, tests)
    Seq(
      CanonicalQueries.behavioralClustering(one),
      CanonicalQueries.srmOutputView(one, Seq("i1", "i2", "i3")),
      join
    ).foreach { q =>
      val (sh, bc) = exchanges(q)
      assert(sh == 0, s"interactive path must not exchange:\n${planOf(q)}")
      assert(bc == (if (q eq join) 2 else 0), planOf(q))
      assert(q.rdd.getNumPartitions == 1)
      q.collect()
      val root = resultRoot(q.queryExecution.executedPlan)
      assert(root.isInstanceOf[graft.plans.ResultCollectExec],
        s"the collect must run through ResultCollectExec:\n$root")
    }
    val cluster = planOf(CanonicalQueries.behavioralClustering(one))
    assert(cluster.contains("graft_sig_list"),
      s"interactive clustering must fingerprint through SigListAgg:\n$cluster")
  }

  test("packTokens offsets apply as a broadcast join, not a P-branch " +
      "when chain") {
    // The per-partition base offsets are a P-row frame; folding them
    // into nested `when`s is correct at local partition counts but at
    // cluster P (thousands) exceeds codegen method limits and falls
    // back to interpreted evaluation of a P-deep expression per row.
    // The broadcast join keeps the stream side's partitioning (zero
    // shuffle above the checkpoint) and costs one hash probe per row.
    val out = graft.ops.Packing.packTokens(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      size(split(trim(col("text")), "\\s+")), 128L)
    val plan = planOf(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"offsets must join, not fold into expressions:\n$plan")
    val (sh, _) = exchanges(out)
    assert(sh == 0,
      s"offset application added a shuffle over checkpointed rows:\n$plan")
    assert(!plan.contains("CASE WHEN (__pid"),
      s"P-branch when chain reintroduced:\n$plan")
  }

  test("q94 posting lists aggregate through bounded TopKAgg state, " +
      "never an unbounded collect_list") {
    // The cap must bound the AGGREGATION BUFFER, not just the output:
    // slice(array_sort(collect_list(...))) returns identical rows but
    // materializes a stopword term's full posting list in one buffer
    // before slicing — the single-buffer OOM class at crawl scale.
    val df = byName("q94_inverted_index")
    val plan = planOf(df)
    assert(plan.contains("graft_topk"),
      s"q94 postings must aggregate via TopKAgg (O(k) state):\n$plan")
    assert(!plan.contains("collect_list"),
      s"unbounded collect_list feeding a capped posting column:\n$plan")
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`). Brute-force cosine top-k is the exact baseline; the
  * LSH-bucketed variant is the scale path: random-hyperplane signs bucket
  * the corpus so each query only scans its bucket (and optionally
  * neighboring probes). [[annTopK]] is the recall-aware front door: it
  * measures the corpus's cluster structure (cell-mass concentration) and
  * picks IVF-adaptive or int8-quantized brute force accordingly.
  */
object Similarity {

  /** Rank candidates per query on the 6-dp-ROUNDED similarity — the q25
    * cross-engine replay discipline (round 11, ADVICE r10): ranking on
    * unrounded sims makes rank parity depend on last-bit FP agreement
    * between engines; rounding both sides to 6 dp BEFORE the
    * row_number (with c_id as the deterministic tie-break) removes
    * that data-dependent assumption. Every top-k path here returns the
    * rounded sim. Input: (q_id, c_id, sim). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("sim", round(col("sim"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("sim"), col("c_id"))))
      .filter(col("rank") <= k)

  /** Exact brute-force cosine top-k: broadcast the (small) query set,
    * scan the corpus once, rank per query. Returns
    * (q_id, c_id, sim, rank); sim rounded to 6 dp before ranking
    * ([[rankTopK]]). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    rankTopK(corpus.join(broadcast(q), col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("c_id"),
        Fns.cosine(col("qv"), col(vecCol)).as("sim")), k)
  }

  /** Symmetric per-vector int8 quantization — the memory-bandwidth
    * lever for a 100 TB embedding table: 4 bytes/dim float32 → 1
    * byte/dim, with the scale factor kept per vector.
    * `q_i = round(x_i / q_scale)`, `q_scale = max|x| / 127` (floored at
    * 1e-12 so all-zero vectors quantize to zeros instead of NaN), so
    * `q_i ∈ [-127, 127]`. Cosine similarity is EXACTLY preserved up to
    * rounding — the per-vector scales cancel:
    * `cos(s1·q1, s2·q2) = cos(q1, q2)` (see [[quantizedCosine]]).
    * Adds `q_scale: double` and `q_vec: array<int>`; pure column
    * expressions, no UDFs. */
  def quantizeInt8(vecs: DataFrame, vecCol: String): DataFrame =
    vecs
      .withColumn("q_scale",
        greatest(
          array_max(transform(col(vecCol), x => abs(x.cast("double"))))
            / 127.0,
          lit(1e-12)))
      .withColumn("q_vec",
        transform(col(vecCol),
          x => round(x.cast("double") / col("q_scale")).cast("int")))

  /** Cosine over int8-quantized vectors: the per-vector scales cancel,
    * so this is the integer cosine of the q-vectors — the reconstruction
    * `s·q` is never materialized. Uses the codegen'd native dot product
    * (int arrays are cast once to double arrays by the lift). All
    * intermediate sums are exact (|q_i| ≤ 127 ⇒ every product and
    * partial sum is an integer far below 2^53), so the dot is the SAME
    * double on any engine and any summation order. */
  def quantizedCosine(qa: org.apache.spark.sql.Column,
      qb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.plans.VecDotExpr
    // explicit cast: the dot lift's lazy cast only fires on resolved
    // expressions, and int arrays must widen to double either way
    val a = transform(qa, _.cast("double"))
    val b = transform(qb, _.cast("double"))
    VecDotExpr.dot(a, b) /
      (sqrt(VecDotExpr.dot(a, a)) * sqrt(VecDotExpr.dot(b, b)))
  }

  /** [[bruteForceTopK]] over int8-quantized vectors — the 100 TB
    * memory-bandwidth variant (1 byte/dim streamed instead of 4): both
    * sides quantize per-vector, similarity is [[quantizedCosine]]
    * (scales cancel; only int8 rounding perturbs ranks — recall
    * measured by `tools/AnnRecall`: 0.992 on the uniform corpus,
    * `ann_recall_r11.txt`). */
  def bruteForceTopKQuantized(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val qc = quantizeInt8(corpus, vecCol)
    val qq = quantizeInt8(queries, vecCol)
      .select(col(idCol).as("q_id"), col("q_vec").as("qqv"))
    rankTopK(qc.join(broadcast(qq), col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("c_id"),
        quantizedCosine(col("qqv"), col("q_vec")).as("sim")), k)
  }

  /** One-shot pre-flight validation of the corpus-GLOBAL embedding
    * invariants (round 12, closing the r11 verdict's q114 finding): the
    * dims check used to ride inside the per-row bucket expression as an
    * additive `assert_true` and cost a measured ~1.8× on q114 at sf10
    * (0.94 → 1.66 s) — pure waste, because "every vector has length
    * `dims` and none is NULL" is a property of the TABLE, not the row.
    * This validates it ONCE per (session, plan, column, dims) with a
    * single column-pruned aggregate (`min/max(size(vec))`, NULL count)
    * and keeps the hot bucket expression guard-free. Memoized on the
    * canonicalized plan's semanticHash so bench reps / repeated
    * invocations of the same pipeline pay nothing after the first call;
    * a lakehouse deployment would validate at ingest instead.
    *
    * Failure modes are distinguished loudly (ADVICE r11): NULL vectors
    * get their own message (a NULL never equals `dims` through
    * `size()`, so the old per-row guard blamed "length != dims" for
    * them), ragged or wrong lengths report the observed [min, max]. */
  private val dimsValidated =
    java.util.concurrent.ConcurrentHashMap
      .newKeySet[(Int, Int, String, Int)]()
  private[ops] def validateVecDims(df: DataFrame, vecCol: String,
      dims: Int, caller: String): Unit = {
    val key = (System.identityHashCode(df.sparkSession),
      df.queryExecution.analyzed.semanticHash(), vecCol, dims)
    if (!dimsValidated.contains(key)) {
      val r = df.agg(
        sum(when(col(vecCol).isNull, 1L).otherwise(0L)).as("nulls"),
        min(size(col(vecCol))).as("mn"),
        max(size(col(vecCol))).as("mx")).head()
      val nulls = if (r.isNullAt(0)) 0L else r.getLong(0)
      if (nulls > 0) throw new IllegalArgumentException(
        s"$caller: $nulls NULL $vecCol vector(s) — pre-filter NULL " +
          "embeddings before bucketing")
      if (!r.isNullAt(1)) {
        val (mn, mx) = (r.getInt(1), r.getInt(2))
        if (mn != dims || mx != dims) throw new IllegalArgumentException(
          s"$caller: $vecCol vector length(s) in [$mn, $mx] != dims " +
            s"$dims — a mismatched literal hyperplane would zip_with-" +
            "pad with nulls and silently degrade every bucket")
      }
      dimsValidated.add(key)
    }
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a value in [-1, 1) derived from the portable hash — reproducible
    * across engines and runs with no RNG state. */
  private def planeComponent(plane: Int, dim: org.apache.spark.sql.Column) =
    Fns.portableHash60(concat(lit(s"plane$plane:"), dim.cast("string")))
      .cast("double") / lit(1L << 59).cast("double") - 1.0

  /** Sign-random-projection bucket id: `planes` hyperplane sign bits.
    * Vectors in the same bucket are ANN candidates. */
  def lshBucket(vecCol: org.apache.spark.sql.Column,
      planes: Int): org.apache.spark.sql.Column = {
    val dims = org.apache.spark.sql.functions.sequence(lit(0),
      size(vecCol) - 1)
    val bits = (0 until planes).map { p =>
      val dot = aggregate(
        zip_with(vecCol, transform(dims, d => planeComponent(p, d)),
          (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Scala-side replica of [[planeComponent]]: identical md5-hex15 →
    * [-1, 1) formula and identical IEEE ops, so buckets computed from
    * these driver-precomputed weights are bit-identical to the dynamic
    * column form (spec-pinned). */
  private def planeComponentValue(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = graft.plans.Hex.lower(
      md.digest(s"plane$plane:$dim".getBytes("UTF-8"))).substring(0, 15)
    java.lang.Long.parseLong(hex, 16).toDouble / (1L << 59).toDouble - 1.0
  }

  /** [[lshBucket]] with the hyperplanes precomputed on the driver and
    * shipped as array LITERALS — the dynamic form evaluates
    * `planes × dims` md5 expressions per ROW (512 md5s/row at the
    * default 8×64: measured 37% of q114's sf10 time), pure waste since
    * the weights depend only on (plane, dim). `dims` must equal the
    * vector dimensionality exactly: a shorter literal would
    * zip_with-pad with nulls and NULL the dot — the hot expression is
    * deliberately GUARD-FREE (round 12; the additive per-row
    * assert_true cost ~1.8× on q114 at sf10), entry points enforce the
    * invariant once via [[validateVecDims]]. */
  def lshBucket(vecCol: org.apache.spark.sql.Column, planes: Int,
      dims: Int): org.apache.spark.sql.Column = {
    require(dims > 0, s"dims must be positive, got $dims")
    val bits = (0 until planes).map { p =>
      val w = array((0 until dims).map(d =>
        lit(planeComponentValue(p, d))): _*)
      val dot = aggregate(
        zip_with(vecCol, w, (x, wc) => x.cast("double") * wc),
        lit(0.0), (acc, x) => acc + x)
      when(dot >= 0, shiftleft(lit(1L), p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** IVF centroids: deterministic seeding (the corpus rows whose id
    * hashes lowest — akin to k-means||'s first round, reproducible
    * with no RNG) followed by `lloydRounds` rounds of Lloyd's
    * refinement: assign every vector to its nearest centroid
    * (broadcast centroids, ONE corpus scan per round, map-side-
    * combinable `min_by` argmax — no window over the corpus×centroid
    * product), recompute each cell's element-wise mean, keep the old
    * centroid for a cell that went empty. Hash-seeded cells are
    * luck-of-the-draw Voronoi quality; 2–3 Lloyd rounds move
    * centroids to the data's actual modes, which is what makes the
    * nProbe/nCells probe fraction hold its recall (measured in
    * `tools/AnnRecall`). Ties break deterministically (higher cosine,
    * then lower cent_id). Returns (cent_id, cv: array<double>).
    *
    * Determinism discipline (round 11, the q116 oracle contract): cell
    * means are computed as EXACT integer micro-unit sums — each
    * component is fixed-pointed once (`round(x·10⁷)` as long, the
    * sumMicro/PageRank discipline), summed associatively, and divided
    * once — so the centroid doubles are bit-identical regardless of
    * partitioning, row order, or engine (a plain `avg(double)` is
    * none of those: FP summation order varies with the shuffle). The
    * 10⁻⁷ input quantization is far below any recall-relevant signal.
    */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, lloydRounds: Int = 2): DataFrame = {
    // Round 12 (guide §2.4/§8 — decide with small data): centroids are
    // nCells tiny vectors, so they live on the DRIVER between rounds
    // instead of as checkpointed frames. Each Lloyd round is then ONE
    // aggregation job over the corpus — the assignment is a literal
    // projection ([[cellExpr]]; no broadcast join, no per-id groupBy
    // shuffle carrying vector payloads) and the element-wise micro-unit
    // sums partial-aggregate map-side into ≤ nCells·dims slim rows
    // before one bounded collect (16 cells × 64 dims = 1k rows). The
    // old shape paid, per round, a corpus-wide broadcast-join + per-id
    // exchange (vectors riding the shuffle) + two mean exchanges + an
    // eager checkpoint job; measured on the q116 chain the Lloyd rounds
    // were ~0.8 s of the 1.97 s query at sf0.1. Arithmetic is
    // UNCHANGED: same seed ranking, same 6-dp-rounded cosine argmax
    // (now via [[cellExpr]]'s least-of-structs — identical ordering
    // semantics to the old min_by), same exact integer micro-unit sums
    // (shuffle- and engine-order-free), and the driver computes each
    // mean as `sm.toDouble / (cnt.toDouble * 1e7)` — the identical IEEE
    // multiply-then-divide the old Spark expression performed — so
    // centroids stay bit-identical across partitionings AND engines
    // (ExtensionOpsSpec pins both).
    val seed = corpus
      .withColumn("__h", Fns.portableHash60(col(idCol).cast("string")))
      // id tie-break: md5 collisions are ~impossible but the total
      // order must not depend on one either way
      .orderBy(col("__h"), col(idCol)).limit(nCells)
      .select(col(idCol).as("cent_id"),
        transform(col(vecCol), _.cast("double")).as("cv"))
    val idType = seed.schema("cent_id").dataType
    var cents: Array[(Any, Array[Double])] = seed.collect().map(r =>
      (r.get(0),
        r.getAs[scala.collection.Seq[Double]](1).toArray))
    (0 until lloydRounds).foreach { _ =>
      if (cents.nonEmpty) {
        // nondeterministic barrier column (the embeddingNearDup trick):
        // without it CollapseProject pulls the assignment kernel up
        // past the Generate and re-evaluates it once per EXPLODED row
        // (dims× per vector — measured 4× on this job at sf0.1)
        val assigned = corpus
          .select(cellExpr(col(vecCol), cents, idType).as("cell"),
            col(vecCol))
          .withColumn("__barrier", monotonically_increasing_id())
        val sums = assigned
          .select(col("cell"),
            posexplode(transform(col(vecCol),
              x => round(x.cast("double") * 1e7).cast("long")))
              .as(Seq("pos", "mx")))
          .groupBy("cell", "pos")
          .agg(sum(col("mx")).as("sm"), count(lit(1)).as("cnt"))
          .collect()
        val byCell = sums.groupBy(_.get(0))
        cents = cents.map { case (cid, oldCv) =>
          byCell.get(cid) match {
            case Some(rows) => // full new mean vector for this cell
              val cv = new Array[Double](rows.map(_.getInt(1)).max + 1)
              rows.foreach { r =>
                cv(r.getInt(1)) =
                  r.getLong(2).toDouble / (r.getLong(3).toDouble * 1e7)
              }
              (cid, cv)
            case None => (cid, oldCv) // empty cell keeps its centroid
          }
        }
      }
    }
    val spark = corpus.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cent_id", idType),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    spark.createDataFrame(
      java.util.Arrays.asList(cents.map { case (cid, cv) =>
        org.apache.spark.sql.Row(cid, cv.toSeq) }: _*), schema)
  }

  /** Nearest-centroid id for a vector column, from DRIVER-collected
    * centroid values — the same (6-dp-rounded sim desc, cent_id asc)
    * argmax the old `min_by` aggregation computed, evaluated row-local
    * with no join and no exchange. Integral cent ids (every declared
    * path) take [[graft.plans.NearestCentroidExpr]] — ONE expression
    * node holding the centroid matrix as plain arrays, because the
    * composed per-centroid literal form costs ~1 s of driver-side
    * plan analysis per fresh centroid set (measured; planning, not
    * execution, dominated the q116 chain). Non-integral ids fall back
    * to the composed `least`-of-structs form. */
  private def cellExpr(vec: org.apache.spark.sql.Column,
      cents: Array[(Any, Array[Double])],
      idType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.Column = {
    require(cents.nonEmpty, "cellExpr needs at least one centroid")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType}
    val integral = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (integral) {
      val ids = cents.map(c => c._1.asInstanceOf[Number].longValue())
      val cvs = cents.map(c => c._2.toIndexedSeq).toSeq
      val cell = graft.plans.NearestCentroidExpr
        .cell(vec, ids.toSeq, cvs)
      if (idType == LongType) cell else cell.cast(idType)
    } else {
      val structs = cents.map { case (cid, cv) =>
        struct(
          negate(round(Fns.cosine(vec, typedlit(cv.toSeq)), 6)).as("ns"),
          lit(cid).as("cent_id"))
      }
      val best =
        if (structs.length == 1) structs.head else least(structs: _*)
      best.getField("cent_id")
    }
  }

  /** Nearest-centroid assignment as a PROJECTION (round 12): the
    * nCells-row centroid frame is collected once and shipped as
    * literals ([[cellExpr]]), so the corpus is neither joined nor
    * shuffled — the old form broadcast-joined corpus×centroids and
    * re-grouped by id, paying a full corpus exchange with the vector
    * payload riding it. The argmax compares 6-dp-ROUNDED cosines (the
    * [[rankTopK]] replay discipline: with bit-identical centroids,
    * rounding makes the assignment independent of last-bit FP
    * evaluation differences; 6-dp ties break on cent_id
    * deterministically on both engines — `least` over
    * struct(-sim, cent_id) is the old min_by ordering verbatim).
    * Returns (idCol, cell, vecCol), one row per input row (callers
    * feed unique ids; the old aggregation form collapsed duplicate
    * ids, which no call site relied on). */
  def assignCells(df: DataFrame, centroids: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val cents: Array[(Any, Array[Double])] = centroids.collect().map(r =>
      (r.get(0), r.getAs[scala.collection.Seq[Double]](1).toArray))
    if (cents.isEmpty)
      // old behavior: a cross join with an empty centroid set is empty
      df.where(lit(false)).select(col(idCol),
        lit(null).cast(centroids.schema("cent_id").dataType).as("cell"),
        col(vecCol))
    else
      df.select(col(idCol),
        cellExpr(col(vecCol), cents,
          centroids.schema("cent_id").dataType).as("cell"),
        col(vecCol))
  }

  /** IVF-style ANN: partition the corpus into `nCells` Voronoi cells
    * around [[ivfCentroids]] (deterministic seed + Lloyd refinement),
    * then answer queries by probing the `nProbe` nearest cells only.
    * At 100 TB the cell assignment is a broadcast-join scan and each
    * query touches nProbe/nCells of the corpus. Returns
    * (q_id, c_id, sim, rank).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16,
      nProbe: Int = 4, lloydRounds: Int = 2): DataFrame = {
    val centroids =
      ivfCentroids(corpus, idCol, vecCol, nCells, lloydRounds)
      // driver-local relation since round 12 — no checkpoint needed
    val cells = assignCells(corpus, centroids, idCol, vecCol)
    // query side: top-nProbe cells per query — the window stays here,
    // where the input is queries×centroids (small by construction)
    val qcells = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .join(broadcast(centroids))
      .select(col("q_id"), col("qv"), col("cent_id").as("cell"),
        round(Fns.cosine(col("qv"), col("cv")), 6).as("__sim"))
      .withColumn("__rn", row_number().over(Window.partitionBy("q_id")
        .orderBy(desc("__sim"), col("cell"))))
      .filter(col("__rn") <= nProbe)
      .drop("__sim", "__rn")
    rankTopK(cells.join(broadcast(qcells), Seq("cell"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("c_id"),
        Fns.cosine(col("qv"), col(vecCol)).as("sim")), k)
  }

  /** The adaptive probe + rank stage shared by [[ivfTopKAdaptive]] and
    * [[annTopK]]: given a prebuilt assignment (`cells`), its
    * `centroids`, and the per-cell `masses`, each query probes its
    * nearest cells (by centroid cosine) until the probed cells together
    * hold at least `coverage` of the corpus's vectors — the minimal
    * prefix of the centroid ranking whose cumulative CELL MASS reaches
    * the target, never fewer than `minProbe` cells. */
  private def ivfAdaptiveFrom(cells: DataFrame, centroids: DataFrame,
      masses: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, coverage: Double,
      minProbe: Int, quantizedScan: Boolean = false): DataFrame = {
    require(coverage > 0.0 && coverage <= 1.0 && minProbe >= 1)
    val total = masses.agg(sum("__mass").as("__total"))
    // per-query centroid ranking, annotated with each cell's mass and
    // the mass ACCUMULATED BEFORE it; keep the minimal covering prefix
    // (the cell that crosses the target is included)
    val w = Window.partitionBy("q_id")
      .orderBy(desc("__sim"), col("cell"))
    // quantizedScan: the PROBE SELECTION (query × centroid cosines)
    // runs on the FLOAT vectors either way — centroids are nCells tiny
    // rows, and the probed-cell set must not move with the scan
    // representation (spec-pinned: identical probe prefixes) — only
    // the candidate SCAN runs on int8 vectors (1 byte/dim streamed
    // instead of 4; scales cancel in the cosine, integer sums exact).
    val qbase0 = queries.select(col(idCol).as("q_id"),
      col(vecCol).as("qv"))
    val qbase = if (quantizedScan)
      quantizeInt8(qbase0, "qv")
        .select(col("q_id"), col("qv"), col("q_vec").as("__qqv"))
      else qbase0.withColumn("__qqv", col("qv"))
    val qcells = qbase
      .join(broadcast(centroids))
      .select(col("q_id"), col("__qqv"), col("cent_id").as("cell"),
        round(Fns.cosine(col("qv"), col("cv")), 6).as("__sim"))
      .join(broadcast(masses), Seq("cell"), "left")
      .withColumn("__mass", coalesce(col("__mass"), lit(0L)))
      .crossJoin(broadcast(total))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__before", coalesce(sum(col("__mass")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("__rn") <= minProbe ||
        col("__before") < col("__total") * coverage)
      .select(col("q_id"), col("__qqv").as("qv"), col("cell"))
    val scanSide = if (quantizedScan)
      quantizeInt8(cells, vecCol)
        .select(col(idCol), col("cell"), col("q_vec").as(vecCol))
      else cells
    rankTopK(scanSide.join(broadcast(qcells), Seq("cell"))
      .filter(col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("c_id"),
        (if (quantizedScan) quantizedCosine(col("qv"), col(vecCol))
         else Fns.cosine(col("qv"), col(vecCol))).as("sim")), k)
  }

  /** IVF ANN with ADAPTIVE per-query probing: instead of a fixed
    * `nProbe`, each query probes its nearest cells (by centroid
    * cosine) until the probed cells together hold at least
    * `coverage` of the corpus's vectors — the minimal prefix of the
    * centroid ranking whose cumulative CELL MASS reaches the target,
    * never fewer than `minProbe` cells.
    *
    * Why mass, not cell count: a fixed probe=1 is exactly where the
    * measured recall floor lives on clustered data (0.718–0.754 at
    * 1/16 scan, `ann_recall_r8.txt`) — queries that land between
    * clusters, and skewed cell masses where the nearest cell holds 2%
    * of the corpus, both starve the candidate set while "1 cell"
    * sounds like a fixed budget. Mass coverage is the quantity the
    * scan cost actually scales with (each query reads
    * Σ probed-cell rows), so the knob bounds COST directly and recall
    * follows: measured recall@10 ≥ 0.97 on the clustered torture
    * corpus at coverage 0.25 (tools/AnnRecall).
    *
    * Cost shape: identical joins to [[ivfTopK]] plus one cell-mass
    * aggregation (nCells output rows) and a 1-row total — both
    * broadcast; the per-query cell ranking window still runs on
    * queries×centroids. The corpus is scanned once for assignment
    * masses and once for candidates; a standing deployment
    * materializes the assignment table once and amortizes both.
    *
    * `quantizedScan` (round 12) combines the two scale levers: the
    * candidate scan streams int8 vectors (1 byte/dim, the
    * [[quantizeInt8]] bandwidth path) while probing stays sublinear —
    * at 100 TB that is the configuration you would actually run.
    * Probe SELECTION runs on the float vectors either way, so the
    * probed-cell prefix is IDENTICAL to the float form (spec-pinned);
    * only candidate similarities move, by int8 rounding only (exact
    * integer sums — engine-independent, q59 discipline). Measured
    * recall vs the float scan: `ann_recall_r12.txt`. */
  def ivfTopKAdaptive(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nCells: Int = 16,
      coverage: Double = 0.25, minProbe: Int = 1,
      lloydRounds: Int = 2, quantizedScan: Boolean = false): DataFrame = {
    val centroids =
      ivfCentroids(corpus, idCol, vecCol, nCells, lloydRounds)
      // driver-local relation since round 12 — no checkpoint needed
    val cells = assignCells(corpus, centroids, idCol, vecCol)
    val masses = cells.groupBy("cell").agg(count(lit(1)).as("__mass"))
      .localCheckpoint(true) // nCells rows; avoids a 3rd corpus scan
    ivfAdaptiveFrom(cells, centroids, masses, queries, idCol, vecCol,
      k, coverage, minProbe, quantizedScan)
  }

  /** The IVF machinery [[annTopK]] decides over: centroids, the
    * assignment, per-cell masses, the measured concentration statistic,
    * and the decision. Public so a standing deployment can compute the
    * selection once, persist the assignment, and reuse it across query
    * batches. */
  final case class AnnSelection(skew: Double, useIvf: Boolean,
      centroids: DataFrame, cells: DataFrame, masses: DataFrame)

  /** Measure the corpus's cluster structure and decide the ANN path:
    * build the IVF assignment, then compute the cell-mass CONCENTRATION
    * `nCells · Σ mass² / total²` — 1.0 when every one of the `nCells`
    * cells holds an equal share (no structure the probe prefix can
    * exploit), `nCells` when one cell holds everything. `nCells` here
    * is the CONFIGURED cell count, not the non-empty count: a corpus of
    * tight clusters collapses into few cells and leaves the rest empty,
    * and those empty cells ARE the cluster signal (4 equal clusters in
    * 16 cells → masses (T/4)×4 → skew 4.0, while a structureless
    * corpus fills all 16 near-evenly → skew ≈ 1). The comparison
    * against `skewThreshold` runs in EXACT integer arithmetic
    * (`10·nCells·Σm² ≥ ⌈10·thr⌉·T²`, all BIGINT — masses are counts),
    * so the decision replays bit-for-bit in any engine from the same
    * assignment; no FP tie can flip it.
    *
    * The default threshold 1.5 is MEASURED, not guessed
    * (nCells=16, Lloyd×2): isotropic corpora sit
    * tightly at 1.0 (testdata embeddings 1.011; uniform 8-d 1.029;
    * uniform 64-d 1.005 — multinomial noise keeps them ≈ 1 + nCells/T),
    * while clustered ones land at 1.80 (4 equal tight clusters — Lloyd
    * tie-breaks concentrate equal clusters too) and 2.01 (the 16-way
    * recall-contract mixture). 1.5 splits the measured gap with margin
    * on both sides.
    *
    * Why this statistic: the adaptive prober's whole advantage is
    * skipping low-mass cells far from the query; when Lloyd'd cell
    * masses come out near-uniform the corpus has no modes to exploit
    * — measured recall@10 at 0.25 coverage collapses from 1.000
    * (clustered) to 0.572 (uniform, `ann_recall_r11.txt`) — and the
    * honest answer is the int8 full scan (recall 0.992). */
  def annSelect(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 16, lloydRounds: Int = 2,
      skewThreshold: Double = 1.5): AnnSelection = {
    require(skewThreshold >= 1.0, "threshold below 1 always picks IVF")
    val centroids =
      ivfCentroids(corpus, idCol, vecCol, nCells, lloydRounds)
    // driver-local relation since round 12 — no checkpoint needed
    val cells = assignCells(corpus, centroids, idCol, vecCol)
    val masses = cells.groupBy("cell").agg(count(lit(1)).as("__mass"))
      .localCheckpoint(true)
    val r = masses.agg(sum(col("__mass")).as("t"),
      sum(col("__mass") * col("__mass")).as("s2")).head()
    val (t, s2) =
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val thr10 = math.ceil(skewThreshold * 10.0).toLong
    val useIvf = t > 0 && 10L * nCells * s2 >= thr10 * t * t
    val skew = if (t == 0) 0.0
      else nCells.toDouble * s2.toDouble / (t.toDouble * t.toDouble)
    AnnSelection(skew, useIvf, centroids, cells, masses)
  }

  /** Recall-aware ANN top-k (round 12 — the VERDICT r11 selector): runs
    * [[annSelect]] and answers with IVF adaptive mass-probing when the
    * corpus has cluster structure, or the int8-quantized full scan when
    * it does not. Returns (q_id, c_id, sim, rank) either way.
    *
    * Measured recall@10 (64-dim, k=10, `ann_recall_r11.txt` /
    * `tools/AnnRecall`) — the boundary this selector encodes:
    *
    * | corpus     | method                     | scan frac | recall |
    * |------------|----------------------------|-----------|--------|
    * | clustered  | IVF adaptive, coverage .25 | 0.25      | 1.000  |
    * | clustered  | IVF adaptive, coverage .125| 0.125     | 0.968  |
    * | uniform    | IVF adaptive, coverage .25 | 0.25      | 0.572  |
    * | uniform    | multi-probe LSH 4/16       | 0.25      | 0.388  |
    * | uniform    | int8 full scan             | 1.0 (1B/dim) | 0.992 |
    *
    * On structureless (near-uniform cell-mass) corpora every sublinear
    * prober pays ~half its recall at a quarter of the scan — there the
    * quantized brute scan is the honest choice: exact candidate set,
    * 1 byte/dim memory traffic, only int8 rounding perturbing ranks.
    * The decision statistic and threshold semantics are documented on
    * [[annSelect]]; COVERAGE.md carries the decision table.
    *
    * Scope: `queries` is an interactive k-NN batch (broadcast in both
    * branches). For a shard-scale query side use [[lshTopK]] with
    * `queryBroadcast = Some(false)` (+ `saltBuckets` under bucket
    * skew), which shuffles on the bucket key instead. */
  def annTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int = 16, coverage: Double = 0.25,
      minProbe: Int = 1, lloydRounds: Int = 2,
      skewThreshold: Double = 1.5,
      quantizedScan: Boolean = false): DataFrame = {
    val sel = annSelect(corpus, idCol, vecCol, nCells, lloydRounds,
      skewThreshold)
    if (sel.useIvf)
      ivfAdaptiveFrom(sel.cells, sel.centroids, sel.masses, queries,
        idCol, vecCol, k, coverage, minProbe, quantizedScan)
    else bruteForceTopKQuantized(corpus, queries, idCol, vecCol, k)
  }

  /** LSH-bucketed ANN top-k: bucket corpus and queries by
    * sign-random-projection, rank within the shared bucket. Trades recall
    * for a corpus-scan-free plan — at 100 TB each query touches one
    * bucket (~corpus/2^planes rows).
    *
    * Query-side join strategy is SIZE-GATED (round 11): an interactive
    * k-NN query set is tiny and broadcasts (the corpus never shuffles);
    * but when the "queries" are a full dedup shard, driver-broadcasting
    * them is exactly the anti-pattern this module exists to avoid — at
    * or above the session's `autoBroadcastJoinThreshold` (estimated
    * from the optimized plan's stats, no job run) the bucket equi-join
    * runs as a shuffle join on the bucket key instead (shuffle_hash:
    * the bucket join needs no sort, and the query side is the smaller
    * build side). Plan-asserted in the spec.
    *
    * `queryBroadcast` overrides the gate when the caller knows better
    * than the estimate (size-only stats do not reduce through filters,
    * so an 8-row slice of a 50 MB table estimates as 50 MB):
    * `Some(true)` pins the interactive broadcast path, `Some(false)`
    * pins the shard-scale shuffle path, `None` trusts the stats.
    * Shard-scale entry points should pass an explicit choice — the
    * stats estimate is resolved at CONSTRUCTION time from the frame's
    * own session (ADVICE r11), but it can still mis-gate through
    * filters.
    *
    * `saltBuckets` (round 12, VERDICT r11 #5) bounds HOT-BUCKET skew on
    * the shuffle path: a near-dup-heavy corpus concentrates vectors in
    * few buckets, and a shuffle join keyed on `bucket` alone then
    * bottlenecks on one reducer — the equi-join hazard
    * [[Skew.saltedJoin]] solves, applied here with the q112 discipline:
    * the corpus side is salted `pmod(hash(id), salt)` (splitting each
    * bucket's corpus rows across `salt` reducers), the query side is
    * replicated across all `salt` values, and the join keys on
    * (bucket, salt). Every same-bucket (c, q) pair still meets exactly
    * once (c carries one salt; q carries all), so results are
    * bit-identical to the unsalted form (spec-pinned) at `salt×` query
    * shuffle volume — bounded medicine for an unbounded hazard.
    *
    * `saltBuckets = 0` = AUTO (round 13, VERDICT r12 #7 — engage the
    * lever where it pays, the [[annTopK]] decision-statistic pattern):
    * on the shuffle path only, one cheap aggregation job measures the
    * hottest bucket's share of the join's pair work (corpus-side mass²
    * proxy — a self-join's per-bucket work is mass_c×mass_q) and salting
    * engages at [[LshAutoSaltShare]] with [[LshAutoSaltFactor]] salts —
    * the probed fixture (lsh_salt_r12.txt: share 0.976, wall 4.4× on 32
    * cores) sits far above the gate, a uniform corpus (share ≈
    * 1/2^planes) far below. The statistic is exact counts, so the
    * decision is deterministic; results are bit-identical either way.
    * Cost: one extra corpus pass per invocation — paid only on the
    * shard-scale shuffle path, where the skew hazard is unbounded and
    * the pass is one narrow column. The broadcast path never salts
    * (every task holds ALL queries; there is no reducer to overload). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 8, dims: Int = -1,
      queryBroadcast: Option[Boolean] = None,
      saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 0,
      s"saltBuckets must be >= 1, or 0 for auto, got $saltBuckets")
    // dims > 0 takes the precomputed-hyperplane path (bit-identical
    // buckets, none of the per-row md5 work) — pass it whenever the
    // embedding dimensionality is known, which at 100 TB it always is.
    // The corpus-global dims invariant is validated ONCE up front
    // (memoized) so the per-row bucket fold stays guard-free.
    if (dims > 0) {
      validateVecDims(corpus, vecCol, dims, "lshTopK(corpus)")
      validateVecDims(queries, vecCol, dims, "lshTopK(queries)")
    }
    def bucketOf(c: org.apache.spark.sql.Column) =
      if (dims > 0) lshBucket(c, planes, dims) else lshBucket(c, planes)
    val cb0 = corpus.withColumn("bucket", bucketOf(col(vecCol)))
    val qb0 = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("bucket", bucketOf(col("qv")))
    val qIsBroadcast = queryBroadcast.getOrElse(broadcastable(queries))
    val salt =
      if (saltBuckets >= 1) saltBuckets
      else if (qIsBroadcast) 1 // no reducer → no skew hazard to salt
      else if (lshHotBucketShare(cb0) >= LshAutoSaltShare)
        LshAutoSaltFactor
      else 1
    val (cb, qb) =
      if (salt > 1)
        (cb0.withColumn("__salt",
            pmod(xxhash64(col(idCol)), lit(salt)).cast("int")),
          qb0.withColumn("__salt",
            explode(sequence(lit(0), lit(salt - 1)))))
      else (cb0, qb0)
    val cond0 = cb("bucket") === qb("bucket") && col(idCol) =!= col("q_id")
    val cond = if (salt > 1)
      cond0 && cb("__salt") === qb("__salt") else cond0
    val qSide = if (qIsBroadcast) broadcast(qb) else qb.hint("shuffle_hash")
    rankTopK(cb.join(qSide, cond)
      .select(col("q_id"), col(idCol).as("c_id"),
        Fns.cosine(col("qv"), col(vecCol)).as("sim")), k)
  }

  /** Whether a frame's OPTIMIZED-PLAN size estimate fits its OWN
    * session's autoBroadcastJoinThreshold — the same statistic the
    * planner would use, read driver-side with no job. Resolved from
    * `df.sparkSession.sessionState.conf`, not the thread-local
    * `SQLConf.get` (ADVICE r11: a frame constructed on a different
    * thread than its session would otherwise read the wrong conf). A
    * disabled threshold (-1) means never broadcast. The decision is
    * made at construction time; callers who change the threshold
    * between construction and execution, or who know the stats
    * estimate is wrong (filters don't reduce size-only stats), should
    * pass an explicit `queryBroadcast`. */
  private def broadcastable(df: DataFrame): Boolean = {
    val threshold =
      df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    threshold > 0 &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
  }

  /** Auto-salt gate ([[lshTopK]] `saltBuckets = 0`): salting engages
    * when the hottest bucket owns at least this share of the join's
    * pair work. 0.5 separates the two regimes by an order of magnitude
    * on each side: a uniform corpus sits near 1/2^planes (≈0.004 at 8
    * planes), the probed hot-bucket fixture at 0.976
    * (lsh_salt_r12.txt) — and below 0.5 no single key can dominate a
    * reducer's wall clock even in the worst placement. */
  val LshAutoSaltShare = 0.5

  /** Salts applied when the auto gate fires — the probed value
    * (lsh_salt_r12.txt: hottest-key share 0.976 → 0.122, wall 4.4× on
    * 32 cores). Fixed, not cores-derived: the salt count multiplies
    * QUERY shuffle volume, so it buys reducer-splitting at a linear
    * byte cost and 8 already bounds the hot key under ~1/8 share. */
  val LshAutoSaltFactor = 8

  /** The hottest bucket's share of a shuffle bucket-join's pair work,
    * from corpus-side bucket masses: work per bucket ≈ mass_c×mass_q,
    * and for the self-/shard-scale case the corpus mass² is the proxy.
    * One aggregation job + a 1-row collect (the [[annTopK]]
    * decision-statistic discipline — exact integer counts, so the
    * decision is deterministic under any partitioning). */
  private def lshHotBucketShare(cb: DataFrame): Double = {
    // exact decimal m² and Σm² (a long m² overflows past ~3e9 rows per
    // bucket; a double Σ would make the decision partition-order-
    // dependent); the one double division at the end is deterministic
    // given exact operands
    val r = cb.groupBy("bucket").agg(count(lit(1)).as("m"))
      .select((col("m").cast("decimal(19,0)") *
        col("m").cast("decimal(19,0)")).as("m2"))
      .agg(max(col("m2")).as("mx"), sum(col("m2")).as("s")).head()
    if (r.isNullAt(0) || r.isNullAt(1) ||
        r.getDecimal(1).signum() == 0) 0.0
    else r.getDecimal(0).doubleValue() / r.getDecimal(1).doubleValue()
  }

  /** Multi-probe LSH top-k ([[lshTopK]]'s recall lever at EQUAL planes):
    * each query probes its primary bucket plus the buckets reached by
    * PERTURBING its lowest-|margin| hyperplane bits — the classic
    * multi-probe probing sequence (Lv et al., VLDB'07). The margin
    * |dot(q, plane_p)| is how close q sits to plane p — the planes most
    * likely to put a true near neighbor on the other side.
    *
    * Probe sequence (round 12 — SECOND RING): candidate perturbations
    * are every single-bit flip {p} AND every two-bit flip {p1, p2},
    * scored by the SUM of the flipped planes' margins and probed in
    * ascending-score order — so a cheap pair of near-zero margins is
    * probed before an expensive single, exactly Lv et al.'s step-wise
    * sequence truncated at two flips. This lifts the single-ring recall
    * plateau (`probes ≤ planes+1` was the r11 cap; recall stalled at
    * 0.388 on the uniform corpus at 4/16 scan) while keeping every
    * probe a disjoint bucket: distinct non-empty flip masks XOR the
    * primary bucket to distinct buckets, so candidate sets never
    * overlap and no dedup step is needed. `probes` = total buckets per
    * query, up to `1 + planes + planes·(planes−1)/2`.
    *
    * Determinism / replay discipline: margins are ROUNDED to 6 dp
    * before scoring and ordering (ADVICE r11 — unrounded margins made
    * the probe SET rest on last-bit FP agreement between engines, the
    * exact assumption rankTopK's rounding removes for sims); pair
    * scores are sums of two rounded doubles (identical IEEE inputs ⇒
    * identical sum on every engine); ties break on (p1, p2). The q118
    * oracle replays the same sequence in DuckDB.
    *
    * Plan shape: identical to [[lshTopK]] with a probes× query-side
    * explode — corpus-side cost (one bucket pass, no corpus scan per
    * query) is unchanged. Same size-gated query-side join as
    * [[lshTopK]]; the corpus-global dims invariant is enforced by the
    * same one-shot [[validateVecDims]] pre-flight (round 12), keeping
    * every per-row expression guard-free.
    */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 8,
      dims: Int = 64, probes: Int = 4,
      queryBroadcast: Option[Boolean] = None): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    val maxProbes = 1 + planes + planes * (planes - 1) / 2
    require(probes >= 1 && probes <= maxProbes,
      s"probes must be in [1, $maxProbes] (= 1 + singles + pairs), " +
        s"got $probes (planes=$planes)")
    require(planes <= 50, "plane bit must fit an exact long mask")
    validateVecDims(corpus, vecCol, dims, "lshTopKMultiProbe(corpus)")
    validateVecDims(queries, vecCol, dims, "lshTopKMultiProbe(queries)")
    val cb = corpus.withColumn("bucket",
      lshBucket(col(vecCol), planes, dims))
    // per-plane dots of the QUERY vector (the margins), same driver-
    // precomputed hyperplane literals as lshBucket
    def dotsOf(vc: org.apache.spark.sql.Column) =
      array((0 until planes).map { p =>
        val w = array((0 until dims).map(d =>
          lit(planeComponentValue(p, d))): _*)
        aggregate(zip_with(vc, w, (x, wc) => x.cast("double") * wc),
          lit(0.0), (acc, x) => acc + x)
      }: _*)
    // 6-dp-rounded |margin| of plane p (the score unit)
    def m(p: Int) = round(abs(element_at(col("__dots"), p + 1)), 6)
    // static perturbation-set table: singles (mask 1<<p) and pairs
    // (mask 1<<i | 1<<j), each scored by its summed rounded margins;
    // array_sort orders by (m, p1, p2) — p2 = -1 puts a single before
    // any equal-score pair sharing p1, mirrored in the oracle
    val sets: Seq[org.apache.spark.sql.Column] =
      (0 until planes).map(p => struct(m(p).as("m"),
        lit(p).as("p1"), lit(-1).as("p2"),
        lit(1L << p).as("mask"))) ++
      (for { i <- 0 until planes; j <- i + 1 until planes } yield
        struct((m(i) + m(j)).as("m"),
          lit(i).as("p1"), lit(j).as("p2"),
          lit((1L << i) | (1L << j)).as("mask")))
    val qb0 = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"))
      .withColumn("__dots", dotsOf(col("qv")))
      // primary bucket from the dots (sign bits — identical values to
      // lshBucket, which recomputes the same IEEE ops)
      .withColumn("__b0", (0 until planes).map(p =>
        when(element_at(col("__dots"), p + 1) >= 0, lit(1L << p))
          .otherwise(0L)).reduce(_ + _))
      .withColumn("bucket", explode(concat(array(col("__b0")),
        transform(slice(array_sort(array(sets: _*)), 1, probes - 1),
          s => col("__b0").bitwiseXOR(s.getField("mask"))))))
      .select(col("q_id"), col("qv"), col("bucket"))
    val qSide = if (queryBroadcast.getOrElse(broadcastable(queries)))
      broadcast(qb0) else qb0.hint("shuffle_hash")
    rankTopK(cb.join(qSide,
        cb("bucket") === qb0("bucket") && col(idCol) =!= col("q_id"))
      .select(col("q_id"), col(idCol).as("c_id"),
        Fns.cosine(col("qv"), col(vecCol)).as("sim")), k)
  }
}

package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Ingestion pipeline (SURVEY EP2): wide cell-level arena exports →
  * per-step observation rows, plus Solr-JSON code-unit ingest. Re-expresses
  * `/root/reference/olake/ingest/arena.py` as one declarative Spark plan:
  * glob scan → filter marker rows → 8-key regroup with ordered/conditional
  * aggregation → 20-column schema projection. One shuffle total; the write
  * side appends into the partitioned layout via [[graft.lake.Lakehouse]].
  *
  * Raw arena export columns (`arena.py:72-125`): EXECUTIONID,
  * ABSTRACTIONID, SYSTEMID, VARIANTID, ADAPTERID, SHEETID, ARENAID,
  * X (cell column), Y (cell row; -1 = sheet metadata), TYPE
  * ('op' | 'input_value' | 'value' | ...), VALUE, EXECUTIONTIME.
  */
object ArenaIngest {

  /** `SYSTEMID_VARIANTID_ADAPTERID` with empty VARIANTID → 'default'
    * (`arena.py:105-106`). */
  def implementationId(system: org.apache.spark.sql.Column,
      variant: org.apache.spark.sql.Column,
      adapter: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws("_", system, coalesce(nullif(variant, lit("")),
      lit("default")), adapter)

  /** Cluster raw cells by problem ahead of the regroup: hash partitioning
    * on ABSTRACTIONID is a subset of the regroup's 8 grouping keys —
    * it satisfies the aggregation's ClusteredDistribution, so Catalyst
    * inserts no further exchange — and it IS the table partition key, so
    * `Lakehouse.append(clustered = true)` can skip its repartition too.
    * Net: the whole ingest pipeline runs with ONE shuffle of slim raw
    * cells instead of two (measured 2.1× throughput). Skew note: a
    * single pathological problem bounds one task; for exports dominated
    * by one problem keep the default two-shuffle path (or shard upstream
    * by sheet). */
  def clusterByProblem(raw: DataFrame): DataFrame =
    raw.repartition(col("ABSTRACTIONID"))

  /** [[clusterByProblem]] with intra-problem sharding: when the export
    * has fewer problems than the cluster has cores (the IngestBench
    * shape: 20 problems, 32 cores), partitioning by problem alone caps
    * every post-shuffle stage — regroup, sort, write — at
    * #problems-way parallelism. `shards > 1` co-partitions on
    * (problem, hash(SHEETID) % shards): the shard column is
    * functionally dependent on SHEETID, so adding it as an extra
    * grouping key (see [[regroupKeys]]) leaves the groups unchanged
    * while letting the SAME single exchange fan out #problems×shards
    * ways. Cost: up to `shards` files per partition dir instead of one
    * (the small-file tradeoff — [[graft.lake.Lakehouse.compact]]
    * is the repair); keep shards=1 for exports with many problems. */
  def clusterByProblem(raw: DataFrame, shards: Int): DataFrame =
    if (shards <= 1) clusterByProblem(raw)
    else raw
      .withColumn("__shard",
        pmod(xxhash64(col("SHEETID")), lit(shards)).cast("int"))
      .repartition(col("ABSTRACTIONID"), col("__shard"))

  /** [[clusterByProblem]] with the shard count CHOSEN from the data: one
    * approx-distinct probe of the slim problem column (a single-column
    * parquet scan — amortized noise for a long-running ingest) sizes the
    * fan-out so problems×shards ≳ the cluster's parallelism. Exports
    * with ≥cores problems shard 1 way (no small-file cost — the common
    * big-data shape); a 20-problem export on 32 cores shards 2 ways
    * (measured 126k→148k obs rows/s on IngestBench). Capped so a
    * degenerate 1-problem export cannot explode into thousands of files
    * per partition dir. */
  def clusterByProblemAuto(raw: DataFrame, maxShards: Int = 8): DataFrame = {
    val spark = raw.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val nProblems = math.max(1L,
      raw.agg(approx_count_distinct(col("ABSTRACTIONID")))
        .head().getLong(0))
    val shards = math.min(maxShards.toLong,
      (cores * 5L / 4L + nProblems - 1) / nProblems).toInt
    clusterByProblem(raw, shards)
  }

  /** The regroup's grouping keys (`arena.py:72-101`), extended with the
    * shard column when the input came through sharded
    * [[clusterByProblem]] — `__shard` is a pure function of SHEETID
    * (already a key), so the groups are identical either way. */
  private def regroupKeys(cells: DataFrame) = {
    val base = Seq(
      col("EXECUTIONID"), col("ABSTRACTIONID"), col("SYSTEMID"),
      col("VARIANTID"), col("ADAPTERID"), col("SHEETID"), col("ARENAID"),
      col("Y"))
    if (cells.columns.contains("__shard")) base :+ col("__shard") else base
  }

  /** Delimiter for the packed regroup key. Arena identifiers are
    * alphanumeric tokens (`arena.py` builds them from system/sheet
    * names); a \u0001 inside a key value would merge two groups, so the
    * packing assumes delimiter-free, non-null key columns — the same
    * precondition the reference's pandas groupby relies on. */
  private val KeySep = "\u0001"

  /** Cell-level rows → one observation row per sequence-sheet step
    * (`arena.py:58-149`). `dataSetId` is injected as a literal, as the
    * reference does. Oracle rows are excluded at ingest
    * (`arena.py:103`: `WHERE Y > -1 AND SYSTEMID != 'oracle'`), so the
    * fact table never contains oracle implementations; the
    * `specified_oracle` column is still computed (constant false after
    * the filter), matching the reference's output schema exactly. */
  def observationsFromArena(raw: DataFrame, dataSetId: String): DataFrame = {
    // drop sheet metadata and oracle rows (arena.py:101-103)
    val cells = raw.filter(col("Y") > -1 && col("SYSTEMID") =!= "oracle")
    // Shuffle-slimming (measured on IngestBench): the six non-problem
    // key strings pack into ONE delimited string and TYPE collapses to
    // a byte code BEFORE the exchange — an UnsafeRow field costs 8
    // bytes of offset + 8-byte-padded data, so 12 fields of short
    // strings were ~200 B/row of mostly overhead; the packed row is
    // ~half that, and the regroup hashes/compares 3 key fields instead
    // of 8. ABSTRACTIONID stays its own column: hash-partitioning on it
    // (clusterByProblem) must remain a subset of the grouping keys so
    // the aggregation adds no second exchange. Keys are restored by one
    // split over the AGGREGATED rows (one per group, not per cell).
    val keyCols =
      if (cells.columns.contains("__shard"))
        Seq(col("ABSTRACTIONID"), col("__shard"), col("__k"))
      else Seq(col("ABSTRACTIONID"), col("__k"))
    val packed = cells.select(
      col("ABSTRACTIONID") +:
        (if (cells.columns.contains("__shard")) Seq(col("__shard"))
         else Nil) :+
        concat_ws(KeySep, col("EXECUTIONID"), col("SYSTEMID"),
          col("VARIANTID"), col("ADAPTERID"), col("SHEETID"),
          col("ARENAID"), col("Y").cast("string")).as("__k") :+
        col("X").cast("int").as("X") :+
        when(col("TYPE") === "input_value", lit(1))
          .when(col("TYPE") === "value", lit(2))
          .when(col("TYPE") === "op", lit(3))
          .otherwise(lit(0)).cast("byte").as("__t") :+
        col("VALUE").cast("string").as("VALUE") :+
        col("EXECUTIONTIME").cast("double").as("EXECUTIONTIME"): _*)
    val parts = split(col("__k"), KeySep)
    packed
      .groupBy(keyCols: _*)
      // the regroup's five aggregate expressions (two ordered string
      // concats + three conditional MAXes, arena.py:83-93) fused into
      // ONE native TypedImperativeAggregate — one buffer per group, one
      // sort at eval, no HOF chains (bit-parity spec-asserted against
      // the composed form below; measured on the ingest hot path).
      // specified_oracle is constant false here — the filter above
      // removed oracle systems — so the aggregate takes the literal
      // instead of re-testing SYSTEMID per cell.
      .agg(graft.plans.ObservationStepAgg.agg(
        col("X"), col("__t"), col("VALUE"),
        col("EXECUTIONTIME"), lit(false)).as("c"))
      .select(
        lit(dataSetId).as("data_set_id"),
        col("ABSTRACTIONID").as("problem_id"),
        implementationId(parts(1), parts(2), parts(3))
          .as("implementation_id"),
        parts(4).as("test_id"),
        lit("").as("implementation_hash"),
        lit("").as("test_hash"),
        parts(0).as("run_id"),
        parts(5).as("environment_id"),
        parts(6).cast("int").as("step_id"),
        col("c.operation").as("operation"),
        col("c.inputs").as("inputs"),
        col("c.output").as("output"),
        col("c.execution_time_ms").as("execution_time_ms"),
        lit(null).cast("double").as("memory_used_mb"),
        lit(null).cast("double").as("branch_coverage_percent"),
        current_timestamp().as("created_at"),
        lit(null).cast("string").as("git_commit_hash"),
        lit(null).cast("string").as("ci_pipeline_id"),
        lit(null).cast("string").as("researcher_name"),
        col("c.specified_oracle").as("specified_oracle"))
  }

  /** The regroup's aggregation in pure built-ins (two
    * `orderedStringAgg` HOF chains + three conditional MAXes) — the
    * SQL-reproducible shape; kept as the bit-parity reference for
    * [[observationsFromArena]]'s fused native aggregate. Identical
    * output (spec-asserted on fixtures and synthesized exports). */
  def observationsFromArenaComposed(raw: DataFrame,
      dataSetId: String): DataFrame = {
    val cells = raw.filter(col("Y") > -1 && col("SYSTEMID") =!= "oracle")
    cells
      .groupBy(regroupKeys(cells): _*)
      .agg(
        // ordered, filtered string concat of the step's input/output
        // cells in spreadsheet-column order (arena.py:83-90) — outputs
        // use the same ordered STRING_AGG as inputs, so a step with
        // multiple 'value' cells concatenates them like the reference
        nullif(Fns.orderedStringAgg(col("X"),
          when(col("TYPE") === "input_value", col("VALUE")), ","), lit(""))
          .as("inputs"),
        nullif(Fns.orderedStringAgg(col("X"),
          when(col("TYPE") === "value", col("VALUE")), ","), lit(""))
          .as("output"),
        // conditional MAX pulls tagged attributes out of the long rows
        // (arena.py:91-93)
        max(when(col("TYPE") === "op", col("VALUE"))).as("operation"),
        max(col("EXECUTIONTIME")).cast("double").as("execution_time_ms"),
        max(col("SYSTEMID") === "oracle").as("specified_oracle"))
      .select(
        lit(dataSetId).as("data_set_id"),
        col("ABSTRACTIONID").as("problem_id"),
        implementationId(col("SYSTEMID"), col("VARIANTID"),
          col("ADAPTERID")).as("implementation_id"),
        col("SHEETID").as("test_id"),
        lit("").as("implementation_hash"),
        lit("").as("test_hash"),
        col("EXECUTIONID").as("run_id"),
        col("ARENAID").as("environment_id"),
        col("Y").cast("int").as("step_id"),
        col("operation"),
        col("inputs"),
        col("output"),
        col("execution_time_ms"),
        lit(null).cast("double").as("memory_used_mb"),
        lit(null).cast("double").as("branch_coverage_percent"),
        current_timestamp().as("created_at"),
        lit(null).cast("string").as("git_commit_hash"),
        lit(null).cast("string").as("ci_pipeline_id"),
        lit(null).cast("string").as("researcher_name"),
        col("specified_oracle"))
  }

  /** Content hash selector: the reference's dedup keys are REAL git
    * blob SHA-1s (`arena.py:31-45`), so `sha1 = true` makes the
    * ingested hashes interchangeable with `git hash-object` output /
    * an existing reference lakehouse. The default stays SHA-256 — the
    * DuckDB-oracle-checkable variant the declared queries use. */
  private def contentHash(c: org.apache.spark.sql.Column,
      sha1: Boolean): org.apache.spark.sql.Column =
    if (sha1) Fns.gitBlobHashSha1(c) else Fns.gitBlobHash(c)

  /** Code implementations from the same export's metadata rows
    * (`arena.py:163-230`): Y = -1 rows carry the implementation source;
    * oracle rows are excluded from the dimension (`arena.py:98`),
    * content-hashed with the git-blob hash (`arena.py:201-217`);
    * `sha1 = true` for git-interop hashes (see [[contentHash]]). */
  def codeFromArena(raw: DataFrame, dataSetId: String,
      sha1: Boolean = false): DataFrame =
    raw.filter(col("Y") === -1 && col("SYSTEMID") =!= "oracle" &&
        col("SYSTEMID") =!= "abstraction" && col("TYPE") === "interface")
      .groupBy(col("ABSTRACTIONID"), col("SYSTEMID"), col("VARIANTID"),
        col("ADAPTERID"))
      .agg(max(col("VALUE")).as("source_code"))
      .filter(col("source_code").isNotNull)
      .select(
        lit(dataSetId).as("data_set_id"),
        col("ABSTRACTIONID").as("problem_id"),
        implementationId(col("SYSTEMID"), col("VARIANTID"),
          col("ADAPTERID")).as("implementation_id"),
        col("source_code"),
        contentHash(col("source_code"), sha1).as("code_hash"),
        current_timestamp().as("created_at"),
        (size(split(col("source_code"), "\n")) )
          .as("lines_of_code"),
        lit(null).cast("int").as("cyclomatic_complexity"),
        lit("java").as("language"))

  /** Test specifications (actuation sheets) from the same export's
    * metadata rows (`arena.py:151-231` `ingest_tests`): `Y = -1` rows of
    * the `abstraction` pseudo-system carry the sequence-sheet JSON
    * (`TYPE = 'stimulussheet'`) and the focal interface
    * (`TYPE = 'interface'`); grouped conditional MAX per
    * `(EXECUTIONID, ABSTRACTIONID, SHEETID)`, git-blob content hash,
    * rows with no sheet source dropped (`arena.py:186-187`). */
  def testsFromArena(raw: DataFrame, dataSetId: String,
      sha1: Boolean = false): DataFrame =
    raw.filter(col("Y") === -1 && col("SYSTEMID") === "abstraction" &&
        (col("TYPE") === "stimulussheet" || col("TYPE") === "interface"))
      .groupBy(col("EXECUTIONID"), col("ABSTRACTIONID"), col("SHEETID"))
      .agg(
        max(when(col("TYPE") === "stimulussheet", col("VALUE")))
          .as("source_code"),
        max(when(col("TYPE") === "interface", col("VALUE")))
          .as("focal_interface"))
      .filter(col("source_code").isNotNull)
      .select(
        lit(dataSetId).as("data_set_id"),
        col("ABSTRACTIONID").as("problem_id"),
        col("SHEETID").as("test_id"),
        col("source_code"),
        col("focal_interface"),
        contentHash(col("source_code"), sha1).as("code_hash"),
        current_timestamp().as("created_at"),
        lit("java").as("language"))

  /** Solr-export JSON → code rows (`arena.py:245-333`): multiline JSON
    * document with `response.docs[]`; list-wrapped scalar fields are
    * unwrapped with element_at (X9). Field mapping follows
    * `_transform_code_unit` (`arena.py:271-287`): implementation_id is
    * `{doc.id}_original_0` (the `{system}_{variant}_{adapter}` key
    * convention, so Solr code rows join arena observations), language is
    * the lowercased doc `lang`, and cyclomatic complexity comes from
    * `m_static_complexity_td`. Fields absent from a given export are
    * null (the reference's dict .get defaults). */
  def codeFromSolrJson(spark: SparkSession, path: String,
      dataSetId: String, sha1: Boolean = false): DataFrame = {
    val docs = spark.read.option("multiLine", "true").json(path)
      .select(explode(col("response.docs")).as("doc"))
    val fields = docs.select(col("doc.*")).schema.fieldNames.toSet
    def scalarField(name: String): org.apache.spark.sql.Column =
      if (fields(name)) col(s"doc.$name") else lit(null).cast("string")
    def listField(name: String): org.apache.spark.sql.Column =
      if (fields(name)) element_at(col(s"doc.$name"), 1)
      else lit(null).cast("string")
    // source text lives in 'content' in LASSO code-index exports
    // (arena.py:291); fall back to list-wrapped 'sourceCode' variants
    val source =
      if (fields("content")) scalarField("content") else listField("sourceCode")
    docs.select(
        lit(dataSetId).as("data_set_id"),
        element_at(col("doc.abstractionId"), 1).as("problem_id"),
        concat(col("doc.id"), lit("_original_0")).as("implementation_id"),
        source.as("source_code"),
        contentHash(source, sha1).as("code_hash"),
        current_timestamp().as("created_at"),
        listField("m_static_loc_td").cast("int").as("lines_of_code"),
        listField("m_static_complexity_td").cast("int")
          .as("cyclomatic_complexity"),
        lower(scalarField("lang").cast("string")).as("language"))
      .filter(col("source_code").isNotNull)
  }
}

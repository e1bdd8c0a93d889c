package graft.schema

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** The lakehouse data model: three tables, identity-partitioned by
  * `(data_set_id, problem_id)` — schemas mirror the reference's declared
  * Iceberg schemas (`/root/reference/olake/lakehouse.py:49-88,94-107,
  * 113-127`), realized as Spark StructTypes + case classes.
  *
  * One `observations` row = one sequence-sheet step of one test executed
  * against one implementation; row identity is the composite
  * `(data_set_id, problem_id, implementation_id, test_id, run_id,
  * environment_id, step_id)` (`olake/ingest/arena.py:99-100`).
  */
object Schemas {

  val partitionCols: Seq[String] = Seq("data_set_id", "problem_id")

  /** lakehouse.py:49-88 — the SRC fact table (20 fields). */
  val observations: StructType = StructType(Seq(
    StructField("data_set_id", StringType, nullable = false),
    StructField("problem_id", StringType, nullable = false),
    StructField("implementation_id", StringType, nullable = false),
    StructField("test_id", StringType, nullable = false),
    StructField("implementation_hash", StringType, nullable = false),
    StructField("test_hash", StringType, nullable = false),
    StructField("run_id", StringType, nullable = false),
    StructField("environment_id", StringType, nullable = false),
    StructField("step_id", IntegerType, nullable = false),
    StructField("operation", StringType, nullable = true),
    StructField("inputs", StringType, nullable = true),
    StructField("output", StringType, nullable = true),
    StructField("execution_time_ms", DoubleType, nullable = true),
    StructField("memory_used_mb", DoubleType, nullable = true),
    StructField("branch_coverage_percent", DoubleType, nullable = true),
    StructField("created_at", TimestampType, nullable = true),
    StructField("git_commit_hash", StringType, nullable = true),
    StructField("ci_pipeline_id", StringType, nullable = true),
    StructField("researcher_name", StringType, nullable = true),
    StructField("specified_oracle", BooleanType, nullable = true)))

  /** lakehouse.py:94-107 — code dimension. */
  val codeImplementations: StructType = StructType(Seq(
    StructField("data_set_id", StringType, nullable = false),
    StructField("problem_id", StringType, nullable = false),
    StructField("implementation_id", StringType, nullable = false),
    StructField("source_code", StringType, nullable = false),
    StructField("code_hash", StringType, nullable = true),
    StructField("created_at", TimestampType, nullable = true),
    StructField("lines_of_code", IntegerType, nullable = true),
    StructField("cyclomatic_complexity", IntegerType, nullable = true),
    StructField("language", StringType, nullable = true)))

  /** lakehouse.py:113-127 — test dimension (source_code is the JSON
    * "sequence sheet"). */
  val tests: StructType = StructType(Seq(
    StructField("data_set_id", StringType, nullable = false),
    StructField("problem_id", StringType, nullable = false),
    StructField("test_id", StringType, nullable = false),
    StructField("source_code", StringType, nullable = false),
    StructField("focal_interface", StringType, nullable = false),
    StructField("code_hash", StringType, nullable = true),
    StructField("created_at", TimestampType, nullable = true),
    StructField("language", StringType, nullable = true)))
}

/** Typed row for ingestion-boundary logic (SURVEY §1.4: Dataset[T] only
  * where row-level Scala logic runs; DataFrames elsewhere). */
final case class Observation(
    data_set_id: String,
    problem_id: String,
    implementation_id: String,
    test_id: String,
    implementation_hash: String,
    test_hash: String,
    run_id: String,
    environment_id: String,
    step_id: Int,
    operation: Option[String],
    inputs: Option[String],
    output: Option[String],
    execution_time_ms: Option[Double],
    memory_used_mb: Option[Double],
    branch_coverage_percent: Option[Double],
    created_at: Option[Timestamp],
    git_commit_hash: Option[String],
    ci_pipeline_id: Option[String],
    researcher_name: Option[String],
    specified_oracle: Option[Boolean])

final case class CodeImplementation(
    data_set_id: String,
    problem_id: String,
    implementation_id: String,
    source_code: String,
    code_hash: Option[String],
    created_at: Option[Timestamp],
    lines_of_code: Option[Int],
    cyclomatic_complexity: Option[Int],
    language: Option[String])

final case class TestSpec(
    data_set_id: String,
    problem_id: String,
    test_id: String,
    source_code: String,
    focal_interface: String,
    code_hash: Option[String],
    created_at: Option[Timestamp],
    language: Option[String])

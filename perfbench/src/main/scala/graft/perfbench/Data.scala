package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs. Every value is a hash of (seed, salt, row
  * id), so the same seed gives the same rows whatever the partitioning.
  *
  * Two families:
  *  - the declared-query tables the `batch` workload reads, with the
  *    schemas and value ranges of the engine's test data;
  *  - arena exports (the wide cell layout `ingest.ArenaIngest` reads),
  *    for the `interactive` lakehouse and the `ingest` workload.
  */
object Data {

  private val Modulus = 1000000007L

  /** Uniform double in [0, 1) from (seed, salt, key columns). */
  def u(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(Modulus))
      .cast("double") / Modulus.toDouble

  /** Uniform long in [lo, hi]. */
  def ul(seed: Long, salt: Int, lo: Long, hi: Long, keys: Column*): Column =
    (floor(u(seed, salt, keys: _*) * (hi - lo + 1)) + lo).cast("long")

  private def pick(seed: Long, salt: Int, values: Seq[String],
      keys: Column*): Column =
    element_at(array(values.map(lit): _*),
      (ul(seed, salt, 0, values.size - 1L, keys: _*) + 1).cast("int"))

  private def money(c: Column): Column = round(c, 2)

  final case class TableSizes(customer: Long, supplier: Long, part: Long,
      orders: Long, lineitem: Long, embeddings: Long)

  /** Row counts at scale factor `sf`, as the engine's test data has them
    * (embeddings have a floor). */
  def sizes(sf: Double): TableSizes = {
    def n(perSf: Double, floor: Long = 1L) =
      math.max(floor, math.round(perSf * sf))
    TableSizes(n(150000), n(10000), n(200000), n(1500000), n(6000000),
      n(20000, 500))
  }

  /** Write `customer`, `part`, `orders`, `lineitem` and `embeddings` as
    * `<dir>/<table>.parquet` (suppliers are only a key range). */
  def writeTables(spark: SparkSession, dir: String, sf: Double,
      seed: Long): TableSizes = {
    val z = sizes(sf)
    def rows(n: Long) = spark.range(0, n, 1, math.max(1,
      math.min(8, (n / 50000).toInt + 1)))
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val day = 86400L * 1000000L
    def date(salt: Int, from: String, days: Long): Column =
      timestamp_micros(unix_micros(to_timestamp(lit(from))) +
        ul(seed, salt, 0, days, id) * day)

    save("customer", rows(z.customer).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ul(seed, 11, 0, 24, id).cast("int").as("c_nationkey"),
      money(u(seed, 12, id) * 10999.0 - 999.0).as("c_acctbal"),
      pick(seed, 13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment")))
    save("part", rows(z.part).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, 31, Seq("red", "blue", "small", "large", "hot", "old",
          "green", "shiny"), id),
        pick(seed, 32, Seq("plate", "widget", "ring", "rod", "bolt", "gear",
          "valve", "spring"), id)).as("p_name"),
      concat(lit("Brand#"), ul(seed, 33, 1, 25, id).cast("string"))
        .as("p_brand"),
      pick(seed, 34, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
        "PROMO"), id).as("p_type"),
      ul(seed, 35, 1, 50, id).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000).cast("double") / 10.0).as("p_retailprice")))
    save("orders", rows(z.orders).select(id.as("o_orderkey"),
      ul(seed, 41, 0, z.customer - 1, id).as("o_custkey"),
      pick(seed, 42, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(u(seed, 43, id) * 499000.0 + 1000.0).as("o_totalprice"),
      date(44, "1995-01-01 00:00:00", 2403).as("o_orderdate"),
      pick(seed, 45, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority")))
    save("lineitem", rows(z.lineitem).select(
      ul(seed, 51, 0, z.orders - 1, id).as("l_orderkey"),
      ul(seed, 52, 0, z.part - 1, id).as("l_partkey"),
      ul(seed, 53, 0, z.supplier - 1, id).as("l_suppkey"),
      ul(seed, 54, 1, 7, id).cast("int").as("l_linenumber"),
      ul(seed, 55, 1, 50, id).cast("double").as("l_quantity"),
      money(u(seed, 56, id) * 104096.0 + 901.0).as("l_extendedprice"),
      (ul(seed, 57, 0, 10, id).cast("double") / 100.0).as("l_discount"),
      (ul(seed, 58, 0, 8, id).cast("double") / 100.0).as("l_tax"),
      pick(seed, 59, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(seed, 60, Seq("F", "O"), id).as("l_linestatus"),
      date(61, "1995-01-02 00:00:00", 2498).as("l_shipdate")))
    // embeddings: unit vectors around ten label centroids
    val dims = 64
    val raw = transform(sequence(lit(0), lit(dims - 1)), j =>
      u(seed, 91, col("label").cast("long"), j.cast("long")) * 2.0 - 1.0 +
        (u(seed, 92, id, j.cast("long")) * 2.0 - 1.0) * 0.8)
    save("embeddings", rows(z.embeddings)
      .withColumn("label", ul(seed, 93, 0, 9, id).cast("int"))
      .withColumn("raw", raw)
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"),
          lit(0.0), (a, y) => a + y * y))).cast("float")).as("embedding"),
        col("label")))
    z
  }

  /** Shape of one synthetic arena export. Each problem gets between
    * `minImpls` and `maxImpls` implementations, `tests` × `steps` sheet
    * cells per implementation and one run; every observation is three
    * cells (op, input, value). Implementations fall into a seeded number
    * of behaviour classes, so clustering finds real clusters. */
  final case class ArenaShape(problems: Int, minImpls: Int, maxImpls: Int,
      minTests: Int, maxTests: Int, steps: Int)

  /** Per-problem truth that the output checks compare against. */
  final case class ProblemTruth(problem: String, impls: Int, tests: Int,
      steps: Int) {
    def observations: Long = impls.toLong * tests * steps
    def srmRows: Long = tests.toLong * steps
  }

  /** Problem sizes spread evenly over the shape's ranges and dealt out in
    * a seeded order: every seed gets the same size distribution (and the
    * same totals), only which problem gets which size changes. */
  private def problemPlan(shape: ArenaShape, seed: Long,
      tag: String): Seq[ProblemTruth] = {
    val rnd = new scala.util.Random(seed * 31 + tag.hashCode)
    def spread(lo: Int, hi: Int) = rnd.shuffle((0 until shape.problems).map(
      p => lo + (hi - lo) * p / math.max(1, shape.problems - 1)))
    val impls = spread(shape.minImpls, shape.maxImpls)
    val tests = spread(shape.minTests, shape.maxTests)
    (0 until shape.problems).map(p =>
      ProblemTruth(f"${tag}_p$p%04d", impls(p), tests(p), shape.steps))
  }

  /** Arena cells for one export: observation cells (Y ≥ 0), one
    * `interface` metadata row per implementation (the code dimension) and
    * `stimulussheet` + `interface` rows per test under the `abstraction`
    * pseudo-system (the test dimension). */
  def arenaExport(spark: SparkSession, shape: ArenaShape, seed: Long,
      tag: String): (DataFrame, Seq[ProblemTruth]) = {
    import spark.implicits._
    val plan = problemPlan(shape, seed, tag)
    val problems = plan.map(t => (t.problem, t.impls, t.tests, t.steps))
      .toDF("problem", "impls", "tests", "steps").repartition(4)
    val impl = problems
      .withColumn("i", explode(sequence(lit(0), col("impls") - 1)))
      .withColumn("klass", pmod(xxhash64(lit(seed), col("problem"),
        col("i")), greatest(lit(1), pmod(xxhash64(lit(seed + 1),
          col("problem")), lit(5)).cast("int") + 1)))
    val sys = concat(lit("sys"), col("i").cast("string"))
    val key = Seq(
      concat(lit("run_"), col("problem")).as("EXECUTIONID"),
      col("problem").as("ABSTRACTIONID"))
    val obs = impl
      .withColumn("t", explode(sequence(lit(0), col("tests") - 1)))
      .withColumn("Y", explode(sequence(lit(0), col("steps") - 1)))
      .select(key ++ Seq(sys.as("SYSTEMID"), lit("").as("VARIANTID"),
        lit("0").as("ADAPTERID"),
        concat(lit("t"), col("t").cast("string")).as("SHEETID"),
        lit("arena1").as("ARENAID"), col("Y"),
        // output depends on the behaviour class only
        pmod(xxhash64(lit(seed), col("problem"), col("t"), col("Y"),
          col("klass")), lit(1000)).cast("string").as("out"),
        (u(seed, 5, col("problem"), col("i"), col("t"), col("Y")) * 5.0)
          .as("ms")): _*)
      .selectExpr("EXECUTIONID", "ABSTRACTIONID", "SYSTEMID", "VARIANTID",
        "ADAPTERID", "SHEETID", "ARENAID", "Y",
        """stack(3,
          1, 'op', concat('public int f', CAST(Y AS STRING), '()'), ms,
          2, 'input_value', CAST(Y * 7 AS STRING), ms,
          3, 'value', out, ms) AS (X, TYPE, VALUE, EXECUTIONTIME)""")
    val code = impl.select(key ++ Seq(sys.as("SYSTEMID"),
      lit("").as("VARIANTID"), lit("0").as("ADAPTERID"),
      lit("").as("SHEETID"), lit("arena1").as("ARENAID"),
      lit(-1).as("Y"), lit(0).as("X"), lit("interface").as("TYPE"),
      concat(lit("class Impl"), col("i").cast("string"),
        lit(" {\n  int f() { return "), col("klass").cast("string"),
        lit("; }\n}")).as("VALUE"),
      lit(0.0).as("EXECUTIONTIME")): _*)
    val tests = problems
      .withColumn("t", explode(sequence(lit(0), col("tests") - 1)))
      .select(key ++ Seq(lit("abstraction").as("SYSTEMID"),
        lit("").as("VARIANTID"), lit("0").as("ADAPTERID"),
        concat(lit("t"), col("t").cast("string")).as("SHEETID"),
        lit("arena1").as("ARENAID"), lit(-1).as("Y"), col("steps")): _*)
      .selectExpr("EXECUTIONID", "ABSTRACTIONID", "SYSTEMID", "VARIANTID",
        "ADAPTERID", "SHEETID", "ARENAID", "Y",
        """stack(2,
          0, 'stimulussheet',
            concat('{"cells":{"steps":', CAST(steps AS STRING), '}}'),
          1, 'interface', 'Focal') AS (X, TYPE, VALUE)""",
        "CAST(0.0 AS DOUBLE) AS EXECUTIONTIME")
    (obs.unionByName(code).unionByName(tests), plan)
  }
}

package graft.lake

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus,
  Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import graft.ops.IncrementalAgg
import graft.schema.Schemas

/** Lakehouse storage layer: the three tables as Hive-style partitioned
  * Parquet under `<warehouse>/<table>/data_set_id=.../problem_id=.../`,
  * mirroring the reference's physical layout
  * (`/root/reference/README.md:92-110`). Catalog/ACID management is
  * external (BASELINE.json); this layer owns layout, append, load, schema
  * alignment and additive schema evolution. Like the reference's
  * Iceberg metadata (`olake/lakehouse.py:28-35,44-127`), every committed
  * snapshot records the table's declared schema and partition columns,
  * and every read and rewrite takes them from there: no footer is read
  * and no inference job runs. As in Iceberg, a data file is written
  * once and never moves, and a snapshot is only its manifest's file
  * list. Materialized stats views are lake tables too, partitioned by a
  * hash bucket of their group key.
  *
  * Scale design: identity partitioning on `(data_set_id, problem_id)` is
  * what the reference credits for its sub-100 ms latencies
  * (`README.md:112`) — in Spark the same predicates hit
  * `PruneFileSourcePartitions`, so a per-problem query touches one
  * directory regardless of total table size. Writes sort within
  * partitions (the reference's designed-but-disabled SortOrder,
  * `lakehouse.py:157-165`) for compression + row-group locality.
  */
final class Lakehouse(spark: SparkSession, warehouse: String) {
  import Lakehouse._

  private def dir(table: String) = s"$warehouse/$table"

  /** Align a frame to a declared schema: select in order, cast, preserving
    * the reference's Arrow `batch.cast(schema)` (`arena.py:133-135`). */
  def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

  /** Append rows to a table — the Iceberg-append analog
    * (`arena.py:146`): dynamic-partition parquet append with
    * within-partition sort.
    *
    * `clustered = true` declares that the input is ALREADY partitioned by
    * the table partition key (e.g. the ingest regroup ran after a
    * `repartition(col("ABSTRACTIONID"))`, whose hash partitioning both
    * satisfies the group-by's distribution requirement and co-locates
    * each problem's rows) — the append-side repartition is skipped, so
    * the whole ingest runs with ONE shuffle of slim raw cells instead of
    * two (measured 2.1× ingest throughput). Only the file layout
    * changes shape (files-per-partition follows the caller's
    * clustering); table contents are identical. The table's partition
    * columns are the ones its manifest records; the first append to a
    * new table records `Schemas.partitionCols`.
    *
    * An append whose version another writer committed first rebases: it
    * re-reads the latest snapshot, checks its schema against it again
    * and commits that snapshot's files plus its own as the next
    * version. */
  def append(table: String, df: DataFrame, schema: StructType,
      sortCols: Seq[String] = Nil, clustered: Boolean = false): Unit =
    appendBatch(table, df, schema, None, sortCols, clustered)

  /** [[append]] as micro-batch `batch` = (writer, batch id): a batch at
    * or below the last one the table's latest snapshot records for its
    * writer commits nothing, so a batch that a stream replays lands
    * once. Every commit carries the record forward; a rollback takes its
    * target's. */
  private[graft] def appendBatch(table: String, df: DataFrame,
      schema: StructType, batch: Option[(String, Long)],
      sortCols: Seq[String] = Nil, clustered: Boolean = false): Unit = {
    def landed(m: Option[Manifest]) = batch.exists { case (w, id) =>
      m.exists(_.batches.get(w).exists(_ >= id))
    }
    val base = latestOption(table)
    if (landed(base)) return
    val (_, parts) = withLatest(table, base, schema, Schemas.partitionCols)
    val aligned = align(df, schema)
    val sorted =
      if (sortCols.nonEmpty && clustered)
        aligned.sortWithinPartitions((parts ++ sortCols).map(col): _*)
      else if (sortCols.nonEmpty)
        aligned.repartition(parts.map(col): _*)
          .sortWithinPartitions((parts ++ sortCols).map(col): _*)
      else aligned
    writeAndCommit(table, sorted.write.partitionBy(parts: _*), "append") {
      written =>
        def onto(base: Option[Manifest]): Boolean = !landed(base) && {
          val committed =
            withLatest(table, base, schema, Schemas.partitionCols)._1
          try {
            commit(table, "append", base, committed, parts,
              base.fold(Seq.empty[String])(_.files) ++ written, None,
              batchesOf(base) ++ batch)
            true
          } catch { case _: FileAlreadyExistsException =>
            onto(latestOption(table))
          }
        }
        onto(base)
    }
  }

  /** Lazy partitioned-table load of the latest snapshot, i.e.
    * `load(table, currentVersion(table))`: partition-key filters prune
    * at the file index, predicates/projections push into the parquet
    * scan. The schema is the one the snapshot's manifest records, so
    * opening a table launches no Spark job, and files written before an
    * additive evolution read the new columns as typed NULLs
    * (`lakehouse.py:281-336`). A snapshot with no data file (every
    * append so far produced zero rows — an export with no metadata
    * rows) reads as the EMPTY, correctly-typed frame, the table-format
    * behavior. */
  def load(table: String): DataFrame = read(table, latest(table))

  // -----------------------------------------------------------------
  // Snapshot-lite versioning — read-at-version time travel.
  //
  // The reference inherits ACID snapshots from Iceberg (every
  // `table.append` is a committed snapshot: `olake/lakehouse.py:28-35`,
  // `ingest/arena.py:146`, `README.md:11`); full table-format
  // transaction semantics stay external per BASELINE.json, but the
  // READ-AT-VERSION half needs no format dependency. As in Iceberg, a
  // data file is written once under a fresh name (Spark part-file
  // names carry the write job's UUID) and stays where it is, and a
  // snapshot is only its manifest:
  //   - every mutating op commits a manifest under `_manifests/`:
  //       graft-manifest v=<version> op=<op>
  //       schema <the table schema as Spark's one-line JSON>
  //       partitions <the table's partition columns, comma-separated>
  //       view <watermark> <source|keys|value>     (stats views only)
  //       batch <batch id> <writer>      (one per writer of batch appends)
  //       <one data file per line, relative to the table dir>
  //     The file list is COMPLETE (not a delta — replay reads ONE
  //     manifest). Each commit builds it from the previous manifest and
  //     the files its own write committed ([[LakeCommitProtocol]],
  //     which writes each file once, under its final name), never from
  //     a listing: [[append]] adds them; the one rewrite
  //     path behind every other mutation, stats views included
  //     ([[rewritePartitions]]), drops the touched partitions' files
  //     and adds them; [[rollbackTo]] takes its target's list. A file
  //     put into the table dir by anything else is in no snapshot.
  //     Partition columns are fixed by a table's first commit. Every
  //     read — latest, at-version, incremental, diff and the rewrites'
  //     own — reads with its snapshot's recorded schema and exactly its
  //     files, so no read infers a schema or lists the table. A
  //     manifest with no schema or partitions line fails loudly. The
  //     `batch` lines are carried forward like the schema; a rollback
  //     takes its target's ([[appendBatch]]);
  //   - no append, rewrite or rollback renames or deletes a committed
  //     data file, so every committed version stays READABLE and a
  //     DataFrame planned before a later commit keeps reading its own
  //     snapshot (spec'd in LakehouseSpec, RewritePathSpec). A commit
  //     creates its manifest exclusively ([[LocalFs]]) and never
  //     overwrites one, so of racing commits of one version exactly one
  //     wins. The loser, if an append, rebases onto the winner and
  //     takes the next version; a rewrite fails. A commit that fails
  //     after its write committed deletes that write's files first, so
  //     a failed rewrite leaves the table as it was;
  //   - [[expireSnapshots]] is the vacuum: it drops old manifests and
  //     deletes the files only they name — the one delete of a data
  //     file.
  // Open: a rewrite is not validated against the commits that raced it
  // (it fails instead of rebasing), and the files of a JVM killed
  // mid-write are named by no manifest and deleted by nothing.
  // -----------------------------------------------------------------

  private val ManifestName = "v(\\d+)\\.txt".r

  private def hadoopFs(p: HPath) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The partition directory of a table-relative file path. */
  private def parentDir(rel: String): String =
    rel.substring(0, math.max(0, rel.lastIndexOf('/')))

  /** Latest committed snapshot version; 0 = never committed. */
  def currentVersion(table: String): Int = {
    val md = new HPath(dir(table), "_manifests")
    val fs = hadoopFs(md)
    if (!fs.exists(md)) 0
    else fs.listStatus(md).map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toInt }
      .foldLeft(0)(math.max)
  }

  private def manifestPath(table: String, v: Int): HPath =
    new HPath(new HPath(dir(table), "_manifests"), f"v$v%08d.txt")

  private val SchemaLine = "schema "
  private val PartitionsLine = "partitions "
  private val ViewLine = "view "
  private val BatchLine = "batch "

  private def manifest(table: String, v: Int): Manifest = {
    val p = manifestPath(table, v)
    val fs = hadoopFs(p)
    val lines = ManifestLock.synchronized {
      require(fs.exists(p), s"no snapshot v$v for table '$table' " +
        s"(have v${currentVersion(table)}) - never committed, or removed " +
        "by expireSnapshots")
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    def field(i: Int, key: String, what: String): String = {
      val line = lines.lift(i).filter(_.startsWith(key))
      require(line.isDefined, s"snapshot v$v of '$table' records no " +
        s"$what: its manifest predates $what-recording commits")
      line.get.stripPrefix(key)
    }
    val schema = DataType.fromJson(field(1, SchemaLine, "table schema"))
      .asInstanceOf[StructType]
    val parts = field(2, PartitionsLine, "partition columns")
      .split(",").filter(_.nonEmpty).toSeq
    val (view, rest) = lines.drop(3).span(_.startsWith(ViewLine))
    val (batches, files) = rest.span(_.startsWith(BatchLine))
    Manifest(v, lines.head.split(" op=", 2).lift(1).getOrElse("unknown"),
      schema, parts, view.headOption.map { l =>
        val Array(w, sig) = l.stripPrefix(ViewLine).split(" ", 2)
        View(w.toLong, sig)
      }, batches.map { l =>
        val Array(id, writer) = l.stripPrefix(BatchLine).split(" ", 2)
        writer -> id.toLong
      }.toMap, files.filter(_.nonEmpty))
  }

  private def batchesOf(m: Option[Manifest]): Map[String, Long] =
    m.fold(Map.empty[String, Long])(_.batches)

  /** The latest committed snapshot's manifest; None = never committed. */
  private def latestOption(table: String): Option[Manifest] =
    Some(currentVersion(table)).filter(_ > 0).map(manifest(table, _))

  /** The latest committed snapshot's manifest. */
  private def latest(table: String): Manifest = {
    val m = latestOption(table)
    require(m.isDefined,
      s"table '$table' has no committed snapshot in $warehouse")
    m.get
  }

  /** `schema` evolved onto the schema of the table's latest snapshot
    * `base`, with the table's partition columns: the committed columns
    * keep their order and type, the new ones follow. A table with no
    * commit yet takes `schema` and `newParts`. A column whose type
    * differs from the committed one fails loudly — evolution is
    * additive only. */
  private def withLatest(table: String, base: Option[Manifest],
      schema: StructType, newParts: Seq[String]): (StructType, Seq[String]) =
    base match {
      case None => (schema, newParts)
      case Some(m) =>
        val prev = m.schema
        schema.fields.foreach { f =>
          prev.find(_.name == f.name).foreach(p =>
            require(p.dataType == f.dataType,
              s"'$table'.${f.name} is ${p.dataType.sql}, cannot write it " +
                s"as ${f.dataType.sql}: schema evolution is additive only"))
        }
        (StructType(prev.fields ++
          schema.fields.filterNot(f => prev.fieldNames.contains(f.name))),
          m.partitionCols)
    }

  /** Commit `files`, `schema`, partition columns `parts`, a stats
    * view's `view` state and the writers' last `batches` as the version
    * after `base`. The manifest is created exclusively: a version that
    * exists fails the commit with a `FileAlreadyExistsException` and is
    * never overwritten. Returns the version. */
  private def commit(table: String, op: String, base: Option[Manifest],
      schema: StructType, parts: Seq[String], files: Seq[String],
      view: Option[View], batches: Map[String, Long]): Int = {
    val v = base.fold(0)(_.v) + 1
    val p = manifestPath(table, v)
    val fs = hadoopFs(p)
    val text = s"graft-manifest v=$v op=$op\n$SchemaLine${schema.json}\n" +
      s"$PartitionsLine${parts.mkString(",")}\n" +
      view.fold("")(w => s"$ViewLine${w.watermark} ${w.sig}\n") +
      batches.toSeq.sorted.map { case (w, id) => s"$BatchLine$id $w\n" }
        .mkString +
      files.sorted.map(_ + "\n").mkString
    ManifestLock.synchronized {
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      try out.write(text.getBytes("UTF-8"))
      finally out.close()
    }
    v
  }

  /** Write `w` into the table directory (an append: every file gets a
    * fresh name, written in place), then commit with `commitWritten`,
    * given the files this write committed; `false` means it committed
    * nothing. If the commit fails or commits nothing, the write's files
    * are deleted, so no file is left that no manifest names. */
  private def writeAndCommit(table: String, w: DataFrameWriter[Row],
      op: String)(commitWritten: Seq[String] => Boolean): Unit = {
    val id = java.util.UUID.randomUUID.toString
    w.mode("append").option(LakeCommitProtocol.WriteId, id).parquet(dir(table))
    val written = LakeCommitProtocol.take(id).getOrElse(throw
      new IllegalStateException(s"$op into '$table': the session does not " +
        "bind graft.lake.LakeCommitProtocol; build it with GraftSession"))
    def drop(): Unit = {
      val root = new HPath(dir(table))
      written.foreach(r => hadoopFs(root).delete(new HPath(root, r), false))
    }
    val kept = try commitWritten(written)
    catch { case e: Throwable => drop(); throw e }
    if (!kept) drop()
  }

  /** Read the table AS OF snapshot `asOf` — the Iceberg
    * `VERSION AS OF` analog. A file the manifest names that is gone was
    * reclaimed by [[expireSnapshots]], and the read fails loudly rather
    * than returning a silently partial table. */
  def load(table: String, asOf: Int): DataFrame = read(table,
    manifest(table, asOf))

  /** Exactly the files of snapshot `m`, read with its schema. */
  private def read(table: String, m: Manifest): DataFrame =
    readRels(table, m.schema, m.files, s"snapshot v${m.v}")

  /** The op string a snapshot's manifest header recorded at commit
    * time ("append", "deleteWhere", "compact", ...). */
  def manifestOp(table: String, v: Int): String = manifest(table, v).op

  /** Read table-relative paths with `schema`, failing loudly on files
    * reclaimed by [[expireSnapshots]]. No file: the typed empty frame. */
  private def readRels(table: String, schema: StructType, rels: Seq[String],
      what: String): DataFrame = {
    if (rels.isEmpty)
      return spark.createDataFrame(java.util.List.of[Row](), schema)
    val root = new HPath(dir(table))
    val fs = hadoopFs(root)
    val found = rels.map(r =>
      r -> (try Some(fs.getFileStatus(new HPath(root, r)))
        catch { case _: java.io.FileNotFoundException => None }))
    val missing = found.collect { case (r, None) => r }
    require(missing.isEmpty,
      s"$what of '$table' is no longer readable: ${missing.size} " +
        s"file(s) reclaimed by expireSnapshots " +
        s"(e.g. ${missing.take(3).mkString(", ")})")
    scan(schema, root, found.flatMap(_._2))
  }

  /** A Parquet scan of exactly `files` below `base`, read with `schema`.
    * The file index is handed the files' statuses, so building it lists
    * nothing: Spark's own reader lists every path it is given, and past
    * `parallelPartitionDiscovery.threshold` (32) paths it runs a
    * listing job. Partition values are parsed from the paths below
    * `base` and typed by `schema`, as a directory read types them.
    * The relation reads through [[ParquetFormat]], so the scan's reader
    * set-up broadcasts the Hadoop conf without per-key sources. Every
    * lake read (`load`, version and incremental reads, change diffs,
    * rewrites, `readStats`) builds its relation here. */
  private def scan(schema: StructType, base: HPath,
      files: Seq[FileStatus]): DataFrame = {
    val known = files.map(f => f.getPath -> Array(f)).toMap
    val statuses = new FileStatusCache {
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
        known.get(p)
      def putLeafFiles(p: HPath, fs: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val opts = Map("basePath" -> base.toString)
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), opts,
      Some(schema), statuses)
    val parts = index.partitionSchema.fieldNames.toSet
    spark.baseRelationToDataFrame(HadoopFsRelation(index,
      index.partitionSchema,
      StructType(schema.filterNot(f => parts(f.name))).toNullable,
      None, new ParquetFormat, opts)(spark))
  }

  /** Incremental (CDC-style) read: the rows ADDED between snapshots
    * `fromV` (exclusive) and `toV` (inclusive) — the Iceberg
    * incremental-append-scan analog. Data files are immutable, so over
    * an append-only history the manifest file-set difference IS the
    * row delta, and the read costs one scan of only the NEW files —
    * never a diff of two full snapshots. This is the primitive a
    * downstream consumer polls ("give me what arrived since v"):
    * at 100 TB the scan is sized by the delta, not the table.
    *
    * Exactness requires every intervening commit to be an append: a
    * rewrite (compact) or destructive op (deleteWhere, upsert)
    * invalidates added-files = added-rows, so those histories FAIL
    * LOUDLY and point at [[changeDiff]] instead of returning a
    * silently wrong delta. `fromV = 0` means "from before the first
    * commit" (the full toV snapshot). */
  def incrementalRead(table: String, fromV: Int, toV: Int): DataFrame = {
    require(0 <= fromV && fromV < toV,
      s"incrementalRead: need 0 <= fromV < toV, got v$fromV..v$toV")
    val nonAppend = ((fromV + 1) to toV)
      .map(v => v -> manifestOp(table, v))
      .filterNot(_._2 == "append")
    require(nonAppend.isEmpty,
      s"incrementalRead: history v$fromV..v$toV of '$table' is not " +
        s"append-only (${nonAppend.map { case (v, op) => s"v$v=$op" }
          .mkString(", ")}); file-diff semantics would be wrong - " +
        "use changeDiff for row-level changes across rewrites")
    val from =
      if (fromV == 0) Set.empty[String]
      else manifest(table, fromV).files.toSet
    val to = manifest(table, toV)
    readRels(table, to.schema, to.files.filterNot(from),
      s"incremental read v$fromV..v$toV")
  }

  /** Row-level change diff between ANY two snapshots: bag-semantics
    * `exceptAll` in both directions, tagged `_change` = insert/delete.
    * Exact across arbitrary op histories (compaction rewrites cancel
    * out: identical rows subtract; only true row changes survive).
    * Costs two snapshot scans + one shuffle — the fallback when
    * [[incrementalRead]]'s append-only precondition fails. Columns are
    * aligned across schema evolution (missing columns read as typed
    * NULLs on the older side). `fromV = 0` diffs against empty. */
  def changeDiff(table: String, fromV: Int, toV: Int): DataFrame = {
    val (af, bf, _) = alignedSnapshots("changeDiff", table, fromV, toV)
    bf.exceptAll(af).withColumn("_change", lit("insert"))
      .unionByName(af.exceptAll(bf).withColumn("_change", lit("delete")))
  }

  /** [[changeDiff]] in COUNT form: one row per DISTINCT changed row,
    * `_change` = insert/delete plus its multiplicity `n` — the shape
    * an aggregate consumer should read. `changeDiff` plans through
    * Spark's exceptAll rewrite, which ends in Generate(ReplicateRows):
    * fine when the caller wants the rows themselves (the expansion IS
    * the output), a pure waste when the next operator aggregates them
    * back down (materialize |diff| rows to count them — the q45/q79
    * scale lesson; PlanShapeSpec bans Aggregate-over-ReplicateRows).
    * Here the multiplicity never expands: one union + one full-row
    * group-by (NULLs group as equal, matching bag semantics), delta =
    * Σ(+1 per to-side row, −1 per from-side row), same single-shuffle
    * cost as exceptAll's own rewrite minus the Generate. */
  def changeDiffCounts(table: String, fromV: Int, toV: Int): DataFrame = {
    val (af, bf, names) =
      alignedSnapshots("changeDiffCounts", table, fromV, toV)
    bf.withColumn("__tag", lit(1L))
      .unionByName(af.withColumn("__tag", lit(-1L)))
      .groupBy(names.map(col): _*)
      .agg(sum("__tag").as("__delta"))
      .filter(col("__delta") =!= 0)
      .select(names.map(col) ++ Seq(
        when(col("__delta") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change"),
        abs(col("__delta")).as("n")): _*)
  }

  /** Shared head of the two diff forms: both snapshots, columns
    * aligned across schema evolution (missing columns read as typed
    * NULLs on the older side). `fromV = 0` diffs against empty. */
  private def alignedSnapshots(op: String, table: String, fromV: Int,
      toV: Int): (DataFrame, DataFrame, Seq[String]) = {
    require(0 <= fromV && fromV < toV,
      s"$op: need 0 <= fromV < toV, got v$fromV..v$toV")
    val b = load(table, toV)
    val a = if (fromV == 0) b.limit(0) else load(table, fromV)
    // union of both column sets, typed from whichever side has each
    val cols = (b.schema ++ a.schema.filterNot(f =>
      b.schema.fieldNames.contains(f.name))).toSeq
    def aligned(df: DataFrame) = df.select(cols.map { f =>
      if (df.columns.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
    (aligned(a), aligned(b), cols.map(_.name))
  }

  /** Roll the table's latest state back to snapshot `v` — Iceberg
    * rollback semantics: history is preserved and the rollback is
    * itself a new commit (readable, re-rollback-able), never a
    * manifest deletion. The new commit records v's file list, schema,
    * partition columns, view state and writers' batches, so the table
    * reads exactly as `load(table, v)`; no file moves. Returns the new
    * version number. */
  def rollbackTo(table: String, v: Int): Int = {
    val m = manifest(table, v)
    commit(table, s"rollback-to-v$v", latestOption(table), m.schema,
      m.partitionCols, m.files, m.view, m.batches)
  }

  // -----------------------------------------------------------------
  // Materialized per-group stats: each view is a lake table.
  //
  // The composition the snapshot layer exists for: a stored
  // `GROUP BY keys -> count/sum/min/max(v)` whose refresh cost is the
  // DELTA, not the table. View `name` is the lake table `_mv/<name>`,
  // partitioned by `__bucket = pmod(xxhash64(keys), 64)`, so every
  // change to it is one [[rewritePartitions]] call: a full build
  // rewrites every bucket, an incremental fold only the buckets its
  // delta's groups hash into (the other buckets keep their files, and
  // [[graft.ops.IncrementalAgg.merge]] keeps the touched buckets'
  // untouched groups out of the shuffle). Each commit's manifest
  // records the view's signature `source|keys|value` and its
  // watermark; a reader sees one snapshot or the next, never a
  // half-written one. Two writers keep a view:
  //   - [[refreshStats]] (batch): the watermark is the source snapshot
  //     version the state reflects. An append-only interval since then
  //     folds its [[incrementalRead]] delta; an interval with a
  //     rewrite/delete, where merge cannot subtract, recomputes in full.
  //     At 100 TB this replaces the nightly full GROUP BY with work
  //     proportional to one day's arrivals;
  //   - [[foldStats]] (streaming): the watermark is the last micro-batch
  //     id folded, so a batch replayed at least once folds once.
  // -----------------------------------------------------------------

  private def mvTable(name: String) = s"_mv/$name"

  private def statsSig(source: String, keys: Seq[String], v: String) =
    s"$source|${keys.mkString(",")}|$v"

  /** The view's latest state; None = never refreshed. */
  private def viewOf(name: String): Option[View] =
    latestOption(mvTable(name)).flatMap(_.view)

  /** [[viewOf]], after checking the view was built as `sig`. */
  private def viewAs(name: String, sig: String): Option[View] = {
    val w = viewOf(name)
    w.foreach(w => require(w.sig == sig,
      s"view '$name': signature mismatch - state was built as " +
        s"[${w.sig}], asked to refresh as [$sig]; use a new view name"))
    w
  }

  /** The source snapshot version [[readStats]] currently reflects;
    * 0 = never refreshed. */
  def statsVersion(name: String): Int = viewOf(name).fold(0)(_.watermark.toInt)

  /** How a [[refreshStats]] call brought the view current. */
  sealed trait RefreshMode
  case object RefreshNoop extends RefreshMode
  case object RefreshIncremental extends RefreshMode
  case object RefreshFull extends RefreshMode

  /** Bring the materialized stats view `name` up to `source`'s current
    * snapshot. Returns the mode used: [[RefreshNoop]] (already
    * current), [[RefreshIncremental]] (append-only interval: delta
    * scan + merge of the touched buckets), or [[RefreshFull]] (first
    * build, or the interval contains a rewrite/delete). The
    * (source, keys, v) signature is recorded with the state and must
    * match on every refresh — a silent signature change would merge
    * incompatible states. */
  def refreshStats(name: String, source: String, keys: Seq[String],
      v: String): RefreshMode = {
    val sig = statsSig(source, keys, v)
    val last = viewAs(name, sig).fold(0)(_.watermark.toInt)
    val cur = currentVersion(source)
    if (cur == last) return RefreshNoop
    val incremental = last > 0 &&
      ((last + 1) to cur).forall(manifestOp(source, _) == "append")
    writeStats(name, IncrementalAgg.statsOf(
      if (incremental) incrementalRead(source, last, cur) else load(source),
      keys, v), keys, View(cur, sig), "refreshStats", full = !incremental)
    if (incremental) RefreshIncremental else RefreshFull
  }

  /** Fold micro-batch `batchId` of `source` (its `rows`) into the stats
    * view `name`: [[refreshStats]]' incremental fold, with the batch id
    * as the watermark; the first batch builds the view. A batch at or
    * below the watermark is skipped: a streaming sink re-runs a batch
    * whose stats commit landed but whose checkpoint commit did not, and
    * folding it again would count it twice. */
  def foldStats(name: String, source: String, keys: Seq[String],
      v: String, rows: DataFrame, batchId: Long): Unit = {
    val sig = statsSig(source, keys, v)
    val w = viewAs(name, sig)
    if (!w.exists(_.watermark >= batchId))
      writeStats(name, IncrementalAgg.statsOf(rows, keys, v), keys,
        View(batchId, sig), "foldStats", full = w.isEmpty)
  }

  private def bucketed(stats: DataFrame, keys: Seq[String]): DataFrame =
    stats.withColumn(BucketCol,
      pmod(xxhash64(keys.map(col): _*), lit(StatsBuckets)).cast("int"))

  /** The one write of view `name`, committing state `at`. `full`:
    * `stats` is the whole new state and every bucket is rewritten.
    * Otherwise `stats` is a delta merged into the view: only the
    * buckets its groups hash into are read and rewritten, so the cost
    * is the delta plus those buckets. */
  private def writeStats(name: String, stats: DataFrame, keys: Seq[String],
      at: View, op: String, full: Boolean): Unit = {
    val t = mvTable(name)
    val base = latestOption(t)
    val scope =
      if (full) (0 until StatsBuckets).map(Row(_))
      else partitionsOf(bucketed(stats, keys), Seq(BucketCol))._1
    val state =
      if (full) stats
      else IncrementalAgg.merge(read(t, base.get).filter(col(BucketCol)
        .isin(scope.map(_.get(0)): _*)).drop(BucketCol), stats, keys)
    rewritePartitions(t, base, bucketed(state, keys), op, Some(scope),
      newParts = Seq(BucketCol), view = Some(at))
  }

  /** The materialized stats state as of its last refresh: one row per
    * group, `(keys..., n_rows, sum_v, min_v, max_v)` — bit-identical to
    * `IncrementalAgg.statsOf` over the source at the watermark (monoid
    * merge exactness, oracle q80). The view's latest snapshot, bucket
    * column dropped. */
  def readStats(name: String): DataFrame = {
    val t = mvTable(name)
    val v = currentVersion(t)
    require(v > 0, s"materialized view '$name' was never refreshed")
    load(t, v).drop(BucketCol)
  }

  /** Vacuum: keep the latest `keepLast` snapshots, drop older
    * manifests, and delete the files they name that no KEPT manifest
    * names — the only delete of a committed data file — and the
    * partition dirs that leaves empty. After expiry,
    * reads of dropped versions fail loudly in
    * [[load(table:String,asOf:Int)*]]. */
  def expireSnapshots(table: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val root = new HPath(dir(table))
    val fs = hadoopFs(root)
    val md = new HPath(root, "_manifests")
    if (!fs.exists(md)) return
    val versions = fs.listStatus(md).map(_.getPath.getName)
      .collect { case ManifestName(v) => v.toInt }.sorted
    val (expire, keep) =
      versions.splitAt(math.max(0, versions.length - keepLast))
    if (expire.isEmpty) return
    val kept: Set[String] =
      keep.flatMap(v => manifest(table, v).files).toSet
    val gone = expire.flatMap(v => manifest(table, v).files).distinct
      .filterNot(kept)
    gone.foreach(r => fs.delete(new HPath(root, r), false))
    // a partition dir this emptied goes too, and so does its parent
    def prune(d: String): Unit = if (d.nonEmpty) {
      val p = new HPath(root, d)
      // recursive: a checksummed FS lists no `.crc` sidecar
      if (fs.exists(p) && fs.listStatus(p).isEmpty) {
        fs.delete(p, true)
        prune(parentDir(d))
      }
    }
    gone.map(parentDir).distinct.foreach(prune)
    expire.foreach(v => fs.delete(manifestPath(table, v), false))
  }

  /** Render touched-partition rows as relative directory paths with
    * Spark's own partition-path escaping, the names the partitioned
    * writer gives the directories (a raw "$c=$v" string misses escaped
    * values). */
  private def partitionRelDirs(rows: Seq[Row],
      parts: Seq[String]): Seq[String] =
    rows.map { r =>
      parts.zipWithIndex.map { case (c, i) =>
        val v = if (r.isNullAt(i)) null else String.valueOf(r.get(i))
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(c, v)
      }.mkString("/")
    }

  /** The distinct `parts` rows of `df` (a bounded collect: the
    * partitions of one mutation's scope), with a local frame of them to
    * semi-join against, whose broadcast runs no job. */
  private def partitionsOf(df: DataFrame,
      parts: Seq[String]): (Seq[Row], DataFrame) = {
    val distinct = df.select(parts.map(col): _*).distinct()
    val rows = distinct.collect().toSeq
    (rows, spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      distinct.schema))
  }

  /** The one rewrite path behind every mutation that replaces files
    * ([[upsert]], [[deleteWhere]], [[compact]], [[compactZOrder]] and
    * every stats-view change): write, then commit once.
    *
    * `rows` are the complete new contents of the partitions they fall
    * in, computed from snapshot `base` (None: the table is new). They
    * are written into the table directory, one new file per partition
    * (`order` sorts within it), beside the files they replace. The
    * touched partitions are those the write produced files in plus
    * `scope` (the partitions a caller rewrites even if no row of them
    * survives); `scope = None` means the written partitions alone. The
    * commit is `base`'s manifest minus the touched partitions' files
    * plus the written ones, with `rows`' schema evolved onto `base`'s
    * as [[append]] does, the table's partition columns (`newParts` if
    * this rewrite creates the table) and a stats view's new `view`
    * state: one atomic manifest commit, as the version after `base`, so
    * a reader sees every touched partition old or every one new. No
    * file is renamed or deleted; a write that fails, or whose version
    * another writer committed first, leaves the table as it was. A
    * rewrite that touches no partition commits nothing, unless it moves
    * a view's watermark. */
  private def rewritePartitions(table: String, base: Option[Manifest],
      rows: DataFrame, op: String, scope: Option[Seq[Row]] = None,
      order: Seq[Column] = Nil, newParts: Seq[String] = Nil,
      view: Option[View] = None): Unit = {
    val (committed, partCols) = withLatest(table, base, rows.schema, newParts)
    val prev = base.fold(Seq.empty[String])(_.files)
    if (scope.exists(_.isEmpty)) // nothing to rewrite; a view's watermark moves
      return view.foreach(_ => commit(table, op, base, committed, partCols,
        prev, view, batchesOf(base)))
    val parts = partCols.map(col)
    val w = rows.repartition(parts: _*)
      .sortWithinPartitions(parts ++ order: _*).write.partitionBy(partCols: _*)
    writeAndCommit(table, w, op) { written =>
      val touched = scope.fold(Set.empty[String])(
        partitionRelDirs(_, partCols).toSet) ++ written.map(parentDir)
      touched.nonEmpty && {
        commit(table, op, base, committed, partCols,
          prev.filterNot(f => touched(parentDir(f))) ++ written, view,
          batchesOf(base))
        true
      }
    }
  }

  def observations: DataFrame = load("observations")
  def codeImplementations: DataFrame = load("code_implementations")
  def tests: DataFrame = load("tests")

  /** Additive schema evolution (`evolve_*_schema`,
    * `lakehouse.py:281-336`): new optional column appears as a typed NULL
    * on old rows. Returns the evolved schema to append with. */
  def evolveSchema(schema: StructType, field: StructField): StructType = {
    require(field.nullable, s"evolved column ${field.name} must be optional")
    StructType(schema.fields :+ field)
  }

  /** Keyed upsert — MERGE semantics without a table format's ACID log:
    * rows of `updates` replace existing rows with the same `keys`, new
    * keys are inserted. Only the partitions PRESENT IN `updates` are
    * rewritten (their existing rows are anti-joined against the update
    * keys and retained); untouched
    * partitions' files are never opened. At 100 TB the cost is
    * proportional to the touched partitions, not the table. Committed
    * as one snapshot across every touched partition
    * ([[rewritePartitions]]); a commit that raced it fails the upsert.
    *
    * `updates` align to the table's schema by column name: a column
    * they lack reads as a typed NULL if it is optional and fails the
    * upsert if it is required; a column the table lacks evolves the
    * table as an optional column, as [[append]] does. */
  def upsert(table: String, updates: DataFrame, keys: Seq[String]): Unit = {
    val m = latest(table)
    val lacking = m.schema.filterNot(f =>
      f.nullable || updates.columns.contains(f.name)).map(_.name)
    require(lacking.isEmpty, s"upsert into '$table': the updates lack " +
      s"required column(s) ${lacking.mkString(", ")}")
    val up = updates.select(updates.columns.toSeq.map(c =>
      m.schema.find(_.name == c).fold(col(c))(f => col(c).cast(f.dataType))
        .as(c)): _*)
    val (touched, touchedDf) = partitionsOf(up, m.partitionCols)
    val kept = read(table, m)
      .join(broadcast(touchedDf), m.partitionCols, "left_semi")
      .join(up.select(keys.map(col): _*).distinct(), keys, "left_anti")
    rewritePartitions(table, Some(m),
      kept.unionByName(up, allowMissingColumns = true), "upsert",
      Some(touched))
  }

  /** Per-partition file/byte statistics — the observability half of
    * small-file maintenance: decide WHAT to compact before rewriting
    * anything. Returns (partition dir relative path, files, bytes). */
  def tableStats(table: String): DataFrame = {
    val root = new HPath(dir(table))
    val fs = hadoopFs(root)
    // the latest snapshot's files: a replaced file stays on disk
    val rows = latestOption(table).fold(Seq.empty[String])(_.files).map(r =>
      (parentDir(r), 1L, fs.getFileStatus(new HPath(root, r)).getLen))
    import spark.implicits._
    rows.toDF("partition", "files", "bytes")
      .groupBy("partition")
      .agg(org.apache.spark.sql.functions.sum("files").as("files"),
        org.apache.spark.sql.functions.sum("bytes").as("bytes"))
      .orderBy("partition")
  }

  /** Small-file compaction (SURVEY §7 "small-file / tiny-partition
    * layout" hazard: many appends × many problems → file explosion):
    * rewrites each partition matching `partitionPredicate` into one
    * file, preserving layout and data — Iceberg's rewrite-data-files
    * maintenance. The default rewrites the whole table (manifest op
    * `compact`); a predicate (e.g. the fragmented partitions per
    * [[tableStats]]) rewrites only those (op `compactWhere`), the
    * per-partition-batch mode SCALE.md prescribes for 100 TB tables. */
  def compact(table: String, partitionPredicate: Column = lit(true)): Unit = {
    val m = latest(table)
    rewritePartitions(table, Some(m), read(table, m).filter(partitionPredicate),
      if (partitionPredicate == lit(true)) "compact" else "compactWhere")
  }

  /** Row-level delete: rewrite ONLY the partitions containing matching
    * rows (touched set via broadcast semi-join, like [[upsert]]),
    * keeping the survivors; a partition none of whose rows survive is
    * removed. Cost ∝ touched partitions, the upsert discipline. */
  def deleteWhere(table: String, predicate: Column): Unit = {
    val m = latest(table)
    val cur = read(table, m)
    val (touched, touchedDf) =
      partitionsOf(cur.filter(predicate), m.partitionCols)
    // SQL DELETE semantics: only predicate-TRUE rows go; a NULL
    // predicate keeps the row (bare !predicate would drop it)
    val survivors = cur
      .join(broadcast(touchedDf), m.partitionCols, "left_semi")
      .filter(!coalesce(predicate, lit(false)))
    rewritePartitions(table, Some(m), survivors, "deleteWhere", Some(touched))
  }

  /** Z-order compaction — [[compact]] with a multi-dimensional
    * rewrite order: within each touched table partition, rows are laid
    * out along the Morton curve over `dims`
    * ([[graft.plans.ZOrderExpr]]), so parquet row-group min/max stats
    * stay compact in EVERY interleaved dimension and scans predicated
    * on any of them skip row groups (the `OPTIMIZE ZORDER BY`
    * maintenance action; skipping quantified in LayoutSpec). The
    * partition-dir layout and the data are unchanged — only the order
    * inside each partition's files differs. */
  def compactZOrder(table: String, dims: Seq[String],
      partitionPredicate: Column = lit(true)): Unit = {
    val m = latest(table)
    val base = read(table, m).filter(partitionPredicate)
    // Order-PRESERVING 20-bit encoding per numeric dimension (hashing
    // would scramble the value space and void min/max skipping): scale
    // by the observed [min, max] — one small agg job, the same
    // range-id preparation Delta's OPTIMIZE ZORDER runs.
    val bounds = base.select(dims.flatMap(d =>
      Seq(min(col(d).cast("double")).as(s"${d}_lo"),
        max(col(d).cast("double")).as(s"${d}_hi"))): _*).head()
    if (bounds.isNullAt(0)) return // empty selection: nothing to rewrite
    // ZOrderExpr keeps only the low 64/n bits per dimension — encode into
    // that same budget (capped at 20) or the curve order would silently
    // wrap for 4+ dims as the top bits get masked off
    val bitsPerDim = math.min(20, 64 / dims.size)
    val enc = dims.zipWithIndex.map { case (d, i) =>
      val lo = bounds.getDouble(2 * i)
      val span = math.max(bounds.getDouble(2 * i + 1) - lo, 1e-12)
      ((col(d).cast("double") - lo) / span * ((1L << bitsPerDim) - 1))
        .cast("long")
    }
    rewritePartitions(table, Some(m), base, "compactZOrder",
      order = Seq(graft.plans.ZOrderExpr.zorder(enc: _*)))
  }

  /** The reference's `ObservationAnalyzer.query_*` API
    * (`lakehouse.py:365-411`) — but lazy: tables are registered as temp
    * views over the partitioned layout, so user SQL keeps partition
    * pruning and pushdown instead of the reference's eager
    * whole-table materialization (SURVEY EP3). */
  def query(sql: String): DataFrame = {
    Seq("observations", "code_implementations", "tests").foreach { t =>
      if (currentVersion(t) > 0) {
        load(t).createOrReplaceTempView(t)
        // `VERSION AS OF n` resolves through the manifest at analysis
        // time (GraftExtensions must be installed on the session);
        // same semantics as load(t, asOf = n)
        graft.plans.GraftTimeTravel.register(spark, t,
          v => load(t, v).queryExecution.analyzed)
      }
    }
    spark.sql(sql)
  }
}

private object Lakehouse {

  /** One committed snapshot: its version, the op that made it, the
    * table schema, its partition columns, a stats view's state, the last
    * batch id of each writer of [[Lakehouse.appendBatch]] and the data
    * files, relative to the table dir. */
  final case class Manifest(v: Int, op: String, schema: StructType,
      partitionCols: Seq[String], view: Option[View],
      batches: Map[String, Long], files: Seq[String])

  /** Held while a manifest is written or read, so no thread of this JVM
    * reads a manifest whose commit is still writing it. */
  val ManifestLock = new Object

  /** A stats view's state: its watermark (the source version, or the
    * last micro-batch id, that it reflects) and its
    * `source|keys|value` signature. */
  final case class View(watermark: Long, sig: String)

  /** A stats view's partition column and its number of values. */
  val BucketCol = "__bucket"
  val StatsBuckets = 64
}

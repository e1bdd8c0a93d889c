package graft

import java.io.File

/** A lake table's manifests and files on disk, read straight from its
  * directory, for specs that pin what a commit records. */
object LakeFiles {
  private val ManifestName = "v(\\d+)\\.txt".r

  /** The data files snapshot `v` of the table at `table` names: its
    * lines after the header, schema and partitions lines, less a stats
    * view's `view` line and the writers' `batch` lines. */
  def manifest(table: File, v: Int): Set[String] = {
    val src = scala.io.Source.fromFile(
      new File(table, f"_manifests/v$v%08d.txt"), "UTF-8")
    try src.getLines().drop(3).filter(l => l.nonEmpty &&
      !l.startsWith("view ") && !l.startsWith("batch ")).toSet
    finally src.close()
  }

  /** The versions whose manifests are on disk. */
  def versions(table: File): Seq[Int] =
    Option(new File(table, "_manifests").list()).toSeq.flatten
      .collect { case ManifestName(v) => v.toInt }.sorted

  /** The data files the table's latest snapshot names. */
  def latestFiles(table: File): Set[String] =
    manifest(table, versions(table).max)

  /** Relative paths of every file under `dir`. */
  def onDisk(dir: File): Set[String] = {
    def walk(d: File, rel: String): Seq[String] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        val r = rel + f.getName
        if (f.isDirectory) walk(f, r + "/") else Seq(r)
      }
    walk(dir, "").toSet
  }

  /** The paths under `dir` that commit machinery other than the
    * manifest leaves: Hadoop's `_temporary` staging, Spark's
    * `.spark-staging*` dirs, the `_SUCCESS` job marker and its checksum. */
  def staged(dir: File): Set[String] =
    onDisk(dir).filter(_.split('/').exists(s => s == "_temporary" ||
      s.startsWith(".spark-staging") || s == "_SUCCESS" ||
      s == "._SUCCESS.crc")) ++
      Seq("_temporary").filter(new File(dir, _).exists())

  /** Relative paths of every `.parquet` file under `dir`. */
  def parquetOnDisk(dir: File): Set[String] =
    onDisk(dir).filter(_.endsWith(".parquet"))

  /** The partition directory of a table-relative file path. */
  def partitionOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/'))
}

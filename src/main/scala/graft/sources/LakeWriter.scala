package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.types.StructType

/** The one write layer under the Delta and Iceberg writers (and the
  * fixture tables built beside them): how a lake file is written, how
  * its per-file stats are computed, and how a version or pointer file
  * is published.
  *
  *  - Files: one Spark write into a temp dir, each part moved to the
  *    path the caller picks from its Hive-unescaped `k=v` partition
  *    values, the temp dir removed in `finally` — success or not.
  *  - Stats: one grouped scan over the NEW files only (numRecords plus
  *    long-column min/max per file), never a table scan; each format
  *    renders it its own way (Delta `add.stats`, Iceberg bounds).
  *  - Publish: a version file (Delta `<v>.json`, Iceberg
  *    `v<n>.metadata.json`) is staged beside its target and hard-linked
  *    in, which fails when the name is taken — two writers racing for
  *    one version cannot both win, and the loser never replaces the
  *    winner's bytes (the Delta protocol's mutual exclusion, Iceberg's
  *    optimistic commit). A pointer file (`_last_checkpoint`,
  *    `version-hint.text`) is staged and renamed over the old one, so a
  *    reader sees the old or the new content, never a torn file.
  */
private[graft] object LakeWriter {

  /** Name prefix of the temp dirs [[writeParquet]] stages parts in. */
  val TmpPrefix = "graft_lake"

  /** One Spark write of `rows` into a fresh temp dir; `use` gets the
    * dir and its parquet parts (path order). The dir is removed after
    * `use` returns or after anything throws.
    */
  private def staged[A](rows: DataFrame, partitionCols: Seq[String],
                        maxRecordsPerFile: Long)
                       (use: (Path, Seq[Path]) => A): A = {
    val tmp = Files.createTempDirectory(TmpPrefix)
    try {
      val w0 = rows.write.mode("overwrite")
      val w1 = if (partitionCols.isEmpty) w0 else w0.partitionBy(partitionCols: _*)
      val w = if (maxRecordsPerFile > 0) w1.option("maxRecordsPerFile", maxRecordsPerFile) else w1
      w.parquet(tmp.toString)
      use(tmp, DeltaLog.listParquet(tmp))
    } finally DeltaLog.deleteTmp(tmp)
  }

  private def moveTo(part: Path, dst: Path, replace: Boolean): Unit = {
    Files.createDirectories(dst.getParent)
    if (replace) Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    else Files.move(part, dst)
  }

  /** Write `rows` (partitioned by `partitionCols`; at most
    * `maxRecordsPerFile` rows per file when > 0) and move part `i` to
    * `dest(partitionValues, i)`, parts numbered in path order.
    * Partition values are Hive-unescaped (the null sentinel rejects
    * loudly). Returns (destination, partition values) per part.
    */
  def writeParquet(rows: DataFrame, partitionCols: Seq[String] = Nil,
                   maxRecordsPerFile: Long = 0L)
                  (dest: (Map[String, String], Int) => Path): Seq[(Path, Map[String, String])] =
    staged(rows, partitionCols, maxRecordsPerFile) { (tmp, parts) =>
      parts.zipWithIndex.map { case (p, i) =>
        val pv = tmp.relativize(p).iterator().asScala.toSeq.dropRight(1)
          .map(_.toString.split("=", 2))
          .map(kv => kv(0) -> IcebergCatalog.unescapePartitionValue(kv(1))).toMap
        val dst = dest(pv, i)
        moveTo(p, dst, replace = false)
        (dst, pv)
      }
    }

  /** Single-file form: `rows` coalesced to one parquet file at
    * `target`; a write that yields any other number of parts rejects
    * before anything moves. `replace` lets the file overwrite an
    * existing one (checkpoint rewrites).
    */
  def writeParquetFile(rows: DataFrame, target: Path,
                       replace: Boolean = false): Unit =
    staged(rows.coalesce(1), Nil, 0L) { (_, parts) =>
      require(parts.size == 1,
        s"single-file write of $target produced ${parts.size} parquet parts")
      moveTo(parts.head, target, replace)
    }

  /** One new file's stats: row count and the non-null min/max of each
    * long column (absent when the column is all null).
    */
  final case class FileStats(numRecords: Long, min: Map[String, Long],
                             max: Map[String, Long])

  /** [[FileStats]] per file NAME (last path segment) of `files`, from
    * one grouped scan over those files only. `schema` pins the read
    * schema; without it the files' own schema is used.
    */
  def fileStats(spark: SparkSession, files: Seq[String], longCols: Seq[String],
                schema: Option[StructType] = None): Map[String, FileStats] = {
    val aggs = count(lit(1)).as("__n") +: longCols.flatMap(c =>
      Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c")))
    schema.fold(spark.read)(spark.read.schema).parquet(files: _*)
      .groupBy(col("_metadata.file_path").as("__fp"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        def bounds(pre: String): Map[String, Long] = longCols.flatMap(c =>
          Option(r.getAs[java.lang.Long](s"__${pre}_$c")).map(v => c -> v.longValue)).toMap
        r.getString(0).split("/").last ->
          FileStats(r.getAs[Long]("__n"), bounds("lo"), bounds("hi"))
      }.toMap
  }

  private def stageBeside(target: Path, content: String): Path = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    Files.writeString(tmp, content, StandardOpenOption.CREATE_NEW)
    tmp
  }

  /** Publish `content` as the version file `target`, which must not
    * exist: staged beside it and hard-linked in. A name already taken
    * fails loudly and leaves the existing file as it was.
    */
  def publishNew(target: Path, content: String): Unit = {
    val tmp = stageBeside(target, content)
    try Files.createLink(target, tmp)
    catch {
      case e: FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"$target already exists: another writer published this version first", e)
    } finally Files.deleteIfExists(tmp)
  }

  /** Replace the pointer file `target` with `content` atomically:
    * staged beside it and renamed over it.
    */
  def replaceAtomic(target: Path, content: String): Unit = {
    val tmp = stageBeside(target, content)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    finally Files.deleteIfExists(tmp)
  }
}

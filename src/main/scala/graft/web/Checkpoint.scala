package graft.web

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Json
import graft.Json.Obj
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Snapshot-manifest checkpointing emulating the Iceberg snapshot contract with plain
  * Parquet (no Iceberg jars in this sandbox — SURVEY.md §7.4): data lands under
  * `dir/data/<partitionCol>=<v>/`, and a JSON-lines manifest under `dir/manifest/`
  * records which partition values are committed, with one atomically-renamed snapshot
  * file per commit (`snapshot-N.json`).
  *
  * Resume contract (north rule): a killed run leaves data files but no snapshot entry
  * for uncommitted partitions; `resumeWrite` recomputes ONLY uncommitted partitions and
  * never touches committed ones. Per-partition lineage (rows, wall time) is recorded in
  * the manifest entries.
  */
object Checkpoint {

  final case class PartitionCommit(value: String, rows: Long, wallMillis: Long)
  final case class WriteReport(written: Seq[PartitionCommit], skipped: Seq[String], snapshotId: Long)

  private def manifestDir(dir: String) = Paths.get(dir, "manifest")

  /** Files.list holds a directory handle until closed — materialize and close, or a
    * long-lived driver committing in a loop leaks one fd per call.
    */
  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  /** (snapshot id, file) of every committed snapshot; none before the first commit. */
  private def snapshots(dir: String): Seq[(Long, java.nio.file.Path)] = {
    val md = manifestDir(dir)
    if (!Files.exists(md)) Nil
    else listDir(md).map(p => p.getFileName.toString -> p).collect {
      case (n, p) if n.startsWith("snapshot-") =>
        n.stripPrefix("snapshot-").stripSuffix(".json").toLong -> p
    }
  }

  /** Committed partition values = union of all snapshot files (optionally only up to
    * `asOfSnapshot`, giving Iceberg-style time travel over the commit history).
    */
  def committed(dir: String, asOfSnapshot: Long = Long.MaxValue): Map[String, PartitionCommit] =
    snapshots(dir).collect { case (id, p) if id <= asOfSnapshot => p }
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.nonEmpty).map(readLine))
      .map(c => c.value -> c).toMap

  /** Time-travel read: the table as of a given snapshot id — only partitions committed
    * by snapshots ≤ `snapshotId` are visible, regardless of what later runs added.
    */
  def readSnapshot(spark: SparkSession, dir: String, snapshotId: Long,
      partitionCol: String): DataFrame = {
    val visible = committed(dir, snapshotId).keys.toSeq
    val df = spark.read.parquet(s"$dir/data")
    if (visible.isEmpty) df.where(lit(false))
    else df.where(col(partitionCol).cast("string").isin(visible: _*))
  }

  def latestSnapshotId(dir: String): Long = snapshots(dir).map(_._1).foldLeft(-1L)(math.max)

  /** Write `df` partitioned by `partitionCol`, skipping committed partitions, then
    * commit a new snapshot atomically. Each partition directory is written via
    * dynamic partition overwrite so a re-run replaces partial output.
    */
  def resumeWrite(spark: SparkSession, df: DataFrame, partitionCol: String, dir: String): WriteReport = {
    val done = committed(dir)
    val todoDf =
      if (done.isEmpty) df
      else df.where(!col(partitionCol).cast("string").isin(done.keys.toSeq: _*))
    val t0 = System.nanoTime()
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    todoDf.write
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(s"$dir/data")
    val wall = (System.nanoTime() - t0) / 1000000L

    // per-partition lineage from ONLY the newly written partition directories — the
    // committed table is never re-scanned on commit (at 100 TB a full-table recount
    // per checkpoint would dominate the job)
    val doneDirs = done.keySet.map(v =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v))
    val prefix = s"$partitionCol="
    val newDirs = listDir(Paths.get(dir, "data")).iterator
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
      .map(_.getFileName.toString.stripPrefix(prefix))
      .filterNot(doneDirs.contains)
      .toSeq
    val counts =
      if (newDirs.isEmpty) Map.empty[String, Long]
      else spark.read.option("basePath", s"$dir/data")
        .parquet(newDirs.map(v => s"$dir/data/$prefix$v"): _*)
        .groupBy(col(partitionCol).cast("string").as("v")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val commits = counts.keySet.toSeq.sorted.map(v => PartitionCommit(v, counts(v), wall))

    val snapId = latestSnapshotId(dir) + 1
    val md = manifestDir(dir)
    Files.createDirectories(md)
    val tmp = md.resolve(s".snapshot-$snapId.json.tmp")
    Files.write(tmp, commits.map(renderLine).mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, md.resolve(s"snapshot-$snapId.json"), StandardCopyOption.ATOMIC_MOVE)
    WriteReport(commits, done.keys.toSeq.sorted, snapId)
  }

  private def renderLine(c: PartitionCommit): String =
    Json(Obj("value" -> c.value, "rows" -> c.rows, "wallMillis" -> c.wallMillis))

  private val mapper = new ObjectMapper()

  private def readLine(line: String): PartitionCommit = {
    val node = mapper.readTree(line)
    def field(name: String, ok: JsonNode => Boolean): JsonNode = Option(node.get(name))
      .filter(ok).getOrElse(throw new IllegalArgumentException(s"bad manifest line: $line"))
    PartitionCommit(field("value", _.isTextual).asText,
      field("rows", _.isIntegralNumber).asLong, field("wallMillis", _.isIntegralNumber).asLong)
  }
}

package graft

import graft.sources.Snapshots
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, small shuffle width). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // untruncated scan metadata, matching Bench and the fp tools: the
    // default 100-char cut moves with the JVM-global exprId width, which
    // is exactly the drift class PlanFingerprintSpec pins (ADVICE r18)
    .config("spark.sql.maxMetadataStringLength", "100000")
    .config("spark.sql.warehouse.dir",
      s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf001 = "/root/testdata/sf0.001"

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A table path `<fresh temp dir>/t`; the dir is deleted after the
    * suite.
    */
  def freshTable(tag: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_${getClass.getSimpleName}_$tag").toFile
    tempDirs.add(dir)
    s"$dir/t"
  }

  /** `p` relative to the working directory — what a user passing a
    * relative path to a registration API hands over.
    */
  def relativePath(p: String): String =
    java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(p).toAbsolutePath).toString

  override def afterAll(): Unit =
    try tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()

  /** An indexed read of `table` filtered by `cond`, collected, with the
    * file cut its pushed filter made: (files kept, files total) from
    * [[graft.sources.SnapshotFileIndex.lastPrune]], summed over every era
    * index when `evolved` (reads through `readIndexedEvolved`).
    */
  def indexedFilter(table: String, cond: Column,
      evolved: Boolean = false): SparkSpec.Cut = {
    val (df, indexes) =
      if (evolved) Snapshots.readIndexedEvolved(spark, table)
      else {
        val (d, ix) = Snapshots.readIndexed(spark, table)
        (d, Seq(ix))
      }
    val rows = df.filter(cond).collect().toSeq
    SparkSpec.Cut(rows, indexes.map(_.lastPrune._1).sum,
      indexes.map(_.lastPrune._2).sum)
  }

  /** Physical-plan string for shape assertions. `execute = true` runs the
    * query first so AQE finalizes the plan (broadcast decisions, coalesced
    * shuffles); false returns the initial plan.
    */
  def executedPlan(df: org.apache.spark.sql.DataFrame,
      execute: Boolean = true): String = {
    if (execute) df.collect()
    df.queryExecution.executedPlan.toString
  }
}

object SparkSpec {
  /** Rows of a filtered indexed read and the files its scan kept. */
  final case class Cut(rows: Seq[Row], kept: Int, total: Int) {
    def skipped: Int = total - kept
  }
}

package perfbench

import scala.util.chaining._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
    .tap(_.sparkContext.setLogLevel("WARN"))

  override def afterAll(): Unit = spark.stop()

  private def job(): Long = spark.sparkContext.parallelize(1 to 10, 2).count()

  test("every job of a call is charged to the span open when it started") {
    val t = new Tracer(spark, enabled = true)
    job() // outside every span
    t.span("call", "layer.a") {
      job(); job(); job()
      t.span("inner", "layer.b") { job(); job() }
      job()
    }
    val spans = t.finish().map { case (s, c) => s.name -> (s, c) }.toMap
    val (call, callC) = spans("call")
    val (inner, innerC) = spans("inner")
    assert(callC.jobs == 4)
    assert(callC.stages == 4)
    assert(callC.tasks == 8)
    assert(innerC.jobs == 2)
    assert(innerC.tasks == 4)
    assert(inner.parent == call.id)
    assert(call.parent == -1)
    assert(t.unattributed.jobs == 1)
  }

  test("a SQL call's planning phases and scans land on its span") {
    val dir = java.nio.file.Files.createTempDirectory("tracerspec").toString
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.parquet(s"$dir/t")
    val t = new Tracer(spark, enabled = true)
    t.span("query", "plans") {
      val df = spark.read.parquet(s"$dir/t")
      df.join(df.groupBy("k").count(), "k").filter("id > 10").collect()
    }
    val (_, c) = t.finish().head
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    assert(c.executions == 1)
    assert(c.jobs >= 1)
    assert(c.stages >= 1)
    assert(c.filesRead > 0)
    assert(c.analysisMs + c.optimizerMs + c.planningMs > 0)
    assert(t.unattributed.executions == 0)
  }

  test("a disabled tracer records nothing and leaves no job tags") {
    val t = new Tracer(spark, enabled = false)
    assert(t.span("x", "y")(job()) == 10)
    assert(t.finish().isEmpty)
    assert(!spark.sparkContext.getJobTags().exists(_.startsWith(Tracer.TagPrefix)))
  }
}

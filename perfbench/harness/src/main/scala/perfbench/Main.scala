package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What a workload needs from the harness. A pass stops starting new
  * operations once `passCapMs` has gone by since `passStartNs`; the
  * operations it leaves out count as failed. */
final case class Ctx(spark: SparkSession, seed: Long, data: String,
    work: String, passCapMs: Long) {
  @volatile var passStartNs: Long = System.nanoTime()
  def overCap: Boolean = (System.nanoTime() - passStartNs) / 1000000L > passCapMs

  /** A generator drawn from the run's seed (and `salt`). The seed is mixed
    * first: java.util.Random's first draws are the same for nearby seeds,
    * so seeds 1, 2, 3 would otherwise all put the same entry last. */
  def random(salt: Long = 0L): Random =
    new Random(new SplittableRandom(seed ^ salt).nextLong())
}

trait Workload {
  /** Untimed: run the code paths once so JIT, codegen and the scheduler
    * are warm before anything is measured. */
  def warmUp(ctx: Ctx): Unit

  /** The measured pass. Returns timings and what the outputs looked like,
    * for the caller to check against the generator's oracle. */
  def measure(ctx: Ctx, t: Tracer): collection.Map[String, Any]

  /** Describes the inputs, for the environment record. */
  def inputs(ctx: Ctx): collection.Map[String, Any]
}

/** Harness entry point: one workload, one fresh Spark application.
  *
  * Usage: perfbench.Main --workload <retail|operators|snapshots>
  *   --seed <n> --trace <0|1> --data <inputDir> --work <scratchDir>
  *   --out <result.json> --pass-cap-s <n>
  *
  * Runs `local[n]` over the cores this JVM may use. Writes one JSON result
  * file; `perfbench/run.py` turns it into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload: Workload = opt("workload") match {
      case "retail"    => RetailWorkload
      case "operators" => CatalogWorkload.operators
      case "snapshots" => CatalogWorkload.snapshots
      case other       => sys.error(s"unknown workload $other")
    }
    val cores = Runtime.getRuntime.availableProcessors
    val trace = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opt("workload")}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opt("work")}/spark-local")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, opt("seed").toLong, opt("data"), opt("work"),
      opt("pass-cap-s").toLong * 1000L)

    workload.warmUp(ctx)
    val setupDone = System.currentTimeMillis()

    val tracer = new Tracer(spark, trace)
    val gc0 = gcMs()
    ctx.passStartNs = System.nanoTime()
    val result = tracer.span(s"run:${opt("workload")}:${opt("seed")}", "run") {
      workload.measure(ctx, tracer)
    }
    val gc = gcMs() - gc0
    // what the pass left live on the heap (caches, leaked blocks): the
    // heap is fixed-size, so RSS alone would not show it
    System.gc()
    val heapRetained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val spans = tracer.finish()

    val out = Map(
      "workload" -> opt("workload"),
      "seed" -> ctx.seed,
      "trace" -> trace,
      "setup_done_ms" -> setupDone,
      "gc_ms" -> gc,
      "heap_retained_bytes" -> heapRetained,
      "peak_rss_kb" -> peakRssKb(),
      "env" -> (Map(
        "cores" -> cores,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString) ++
        workload.inputs(ctx)),
      "result" -> result,
      "spans" -> spans.map { case (s, c) =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
          c.fields
      })
    writeJson(opt("out"), out)
    spark.stop()
  }

  /** Scala maps, sequences and options as JSON; a non-finite double is
    * written as a bare `NaN`/`Infinity`, which Python's json reads back. */
  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  def writeJson(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this JVM (Linux VmHWM), or -1 elsewhere. */
  def peakRssKb(): Long =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    } catch { case _: Exception => -1L }
}

package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.util.Random

import graft.analytics.Dashboard
import graft.etl.RetailWarehouse
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's own flow: a Superstore extract loaded day by day into the
  * SCD2 star schema, each day followed by a dashboard session over the
  * fresh warehouse (one closed-loop client, no think time).
  *
  * Inputs (written by `perfbench/gen.py`): `days.tsv` with one line per
  * day (`day, asOf, csv path, rows, bytes`) and `warm.tsv` in the same
  * form for the untimed warm-up extract.
  */
object RetailWorkload extends Workload {
  final case class Day(day: Int, asOf: java.sql.Date, csv: String, rows: Long, bytes: Long)

  val Charts: Seq[String] = Seq("kpis", "salesByDate", "profitByCategory",
    "salesBySegment", "categoryVsRest", "revenueShareByCategory", "options")
  val Segments = Seq("Consumer", "Corporate", "Home Office")
  val Categories = Seq("Beauty", "Clothing", "Electronics", "Jewellery")
  val Years = Seq("2014", "2015", "2016", "2017")
  /** Dashboard calls after each ETL day. */
  val CallsPerSession = 12

  def readDays(path: String): Seq[Day] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      Day(f(0).toInt, java.sql.Date.valueOf(f(1)), f(2), f(3).toLong, f(4).toLong)
    }.toList
    finally src.close()
  }

  def inputs(ctx: Ctx): collection.Map[String, Any] = {
    val days = readDays(s"${ctx.data}/days.tsv")
    Map("extract_rows" -> days.map(_.rows), "extract_bytes" -> days.map(_.bytes))
  }

  def warmUp(ctx: Ctx): Unit = {
    val off = new Tracer(ctx.spark, enabled = false)
    val wh = s"${ctx.work}/warm_warehouse"
    val rnd = ctx.random(salt = 0x5eed)
    readDays(s"${ctx.data}/warm.tsv").foreach { d =>
      etlDay(ctx.spark, off, d, wh)
      session(ctx.spark, off, wh, d.day, rnd, calls = Charts.size,
        new ArrayBuffer, new ArrayBuffer, () => false)
    }
    delete(ctx.spark, wh)
  }

  def measure(ctx: Ctx, t: Tracer): collection.Map[String, Any] = {
    val spark = ctx.spark
    val wh = s"${ctx.work}/warehouse"
    val rnd = ctx.random()
    val etlMs = ArrayBuffer.empty[Option[Double]] // None: the day failed
    val calls = ArrayBuffer.empty[Map[String, Any]]
    val answers = ArrayBuffer.empty[Map[String, Any]]
    val checks = ArrayBuffer.empty[Map[String, Any]]
    val errors = ArrayBuffer.empty[String]
    val days = readDays(s"${ctx.data}/days.tsv")
    days.takeWhile(_ => !ctx.overCap).foreach { d =>
      t.span(s"day${d.day}", "day") {
        val t0 = System.nanoTime()
        try {
          etlDay(spark, t, d, wh)
          etlMs += Some((System.nanoTime() - t0) / 1e6)
        } catch {
          case e: Exception =>
            etlMs += None
            errors += describe(s"day${d.day}", e)
        }
        try t.span(s"session${d.day}", "session") {
          session(spark, t, wh, d.day, rnd, CallsPerSession, calls, answers,
            () => ctx.overCap)
        } catch { // the calls it did not make count as failed
          case e: Exception => errors += describe(s"session${d.day}", e)
        }
      }
      // outside every timed region: the fact must hold the whole extract
      checks += t.span(s"check${d.day}", "check") {
        Map("day" -> d.day, "fact_rows" ->
          attempt(errors, s"check${d.day}", -1L) {
            spark.read.parquet(s"$wh/fact_sales").count()
          })
      }
    }
    // and the dims, once, at the end: one current version per key, and
    // one expired version per tracked-attribute change over all days
    checks += t.span("check", "check") {
      attempt(errors, "check", Map.empty[String, Any])(dimFacts(spark, wh))
    }
    Map("etl_ms" -> etlMs, "calls" -> calls, "answers" -> answers,
      "calls_planned" -> days.size * CallsPerSession,
      "checks" -> checks, "errors" -> errors,
      "warehouse" -> wh)
  }

  /** One ETL day: prior dims → extract → SCD2 dims + fact → warehouse →
    * both marts, through the engine's public entry points. */
  def etlDay(spark: SparkSession, t: Tracer, d: Day, wh: String): Unit = {
    val prior = t.span("readPriorDims", "etl.read_prior") {
      RetailWarehouse.readPriorDims(spark, wh)
    }
    val res = t.span("runFromCsv", "etl.dims") {
      RetailWarehouse.runFromCsv(spark, d.csv, d.asOf, prior)
    }
    t.span("writeWarehouse", "etl.write") { RetailWarehouse.writeWarehouse(res, wh) }
    t.span("marts", "etl.marts") {
      RetailWarehouse.martSalesPerformance(res.fact, res.dims("dim_customer"))
        .write.mode("overwrite").parquet(s"$wh/mart_sales_performance")
      RetailWarehouse.martCategoryAnalysis(res.fact, res.dims("dim_product"))
        .write.mode("overwrite").parquet(s"$wh/mart_category_analysis")
    }
  }

  /** A dashboard session: re-read the warehouse, join the star, then
    * `calls` chart calls; every seventh call picks a new seeded slicer.
    * Each call is timed from the call to the end of its `collect()`. */
  def session(spark: SparkSession, t: Tracer, wh: String, day: Int,
      rnd: Random, calls: Int, timings: ArrayBuffer[Map[String, Any]],
      answers: ArrayBuffer[Map[String, Any]], stop: () => Boolean): Unit = {
    val star = t.span("starJoin", "analytics.star") {
      Dashboard.withDefaults(Dashboard.starJoin(
        spark.read.parquet(s"$wh/fact_sales"),
        spark.read.parquet(s"$wh/dim_customer"),
        spark.read.parquet(s"$wh/dim_product")))
    }
    var slicer: Option[(String, String)] = None
    (0 until calls).takeWhile(_ => !stop()).foreach { i =>
      if (i % Charts.size == 0) slicer = rnd.nextInt(4) match {
        case 0 => None
        case 1 => Some("segment" -> Segments(rnd.nextInt(Segments.size)))
        case 2 => Some("category" -> Categories(rnd.nextInt(Categories.size)))
        case _ => Some("order_year" -> Years(rnd.nextInt(Years.size)))
      }
      val view = slicer.fold(star)(s => Dashboard.slice(star, Map(s)))
      val chart = Charts(i % Charts.size)
      val arg = chart match {
        case "categoryVsRest" => Categories(rnd.nextInt(Categories.size))
        case "options" => Seq("segment", "category", "order_year")(rnd.nextInt(3))
        case _ => ""
      }
      var buildNs, execNs = 0L
      val rows = try t.span(chart, "analytics.call") {
        val t0 = System.nanoTime()
        val df: DataFrame = chart match {
          case "kpis" => Dashboard.kpis(view)
          case "salesByDate" => Dashboard.salesByDate(view)
          case "profitByCategory" => Dashboard.profitByCategory(view)
          case "salesBySegment" => Dashboard.salesBySegment(view)
          case "categoryVsRest" => Dashboard.categoryVsRest(view, arg)
          case "revenueShareByCategory" => Dashboard.revenueShareByCategory(view)
          case "options" => Dashboard.options(view, arg)
        }
        val t1 = System.nanoTime()
        val r = df.collect()
        buildNs = t1 - t0
        execNs = System.nanoTime() - t1
        r
      } catch {
        case e: Exception =>
          timings += Map("day" -> day, "chart" -> chart,
            "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          null
      }
      if (rows != null) timings += Map("day" -> day, "chart" -> chart,
        "build_ms" -> buildNs / 1e6, "exec_ms" -> execNs / 1e6)
      if (rows != null && (chart == "kpis" || chart == "categoryVsRest"))
        answers += Map("day" -> day, "chart" -> chart, "arg" -> arg,
          "slice" -> slicer.map { case (c, v) => Seq(c, v) },
          "rows" -> rows.toSeq.map(rowValues))
    }
  }

  private def describe(what: String, e: Exception): String =
    s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)

  /** `body`, or `failed` with the error recorded. */
  private def attempt[T](errors: ArrayBuffer[String], what: String, failed: T)(
      body: => T): T =
    try body catch { case e: Exception => errors += describe(what, e); failed }

  private def rowValues(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.lang.Double => d.doubleValue
    case l: java.lang.Long => l.longValue
    case other => if (other == null) null else other.toString
  }

  /** Per dim: keys, keys without exactly one current row, expired rows. */
  def dimFacts(spark: SparkSession, wh: String): Map[String, Any] =
    Seq("dim_customer" -> "customer_id", "dim_product" -> "product_id").flatMap {
      case (name, key) =>
        val dim = spark.read.parquet(s"$wh/$name")
        val perKey = dim.groupBy(col(key))
          .agg(sum(when(col("is_current") === 1, 1).otherwise(0)).as("cur"))
        Seq(s"${name}_keys" -> perKey.count(),
          s"${name}_bad_current" -> perKey.filter(col("cur") =!= 1).count(),
          s"${name}_expired" -> dim.filter(col("is_current") === 0).count())
    }.toMap

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.analytics.{MiningQueries, NorthStarQueries, PipelineQueries, Q, SnapshotQueries}
import graft.sources.ParquetMeta
import org.apache.spark.sql.Row

/** A fixed set of `SparkEntry` catalog entries, each run once over the
  * testdata-shaped tables (`perfbench/gen.py`), in an order the seed
  * shuffles, so a holdout seed changes which entry pays for what the
  * warm-up left cold. Each entry is timed as its `Q.run` (build: frame
  * construction, with any eager jobs it launches) plus `count()` (exec).
  *
  * @param layer prefix of the span layers: `<layer>.build`, `<layer>.exec`
  * @param warmEntries entries outside the measured set that share its code
  *   paths (and no state with it), run untimed in the warm-up: without
  *   them the first entries pay the JIT and codegen cost of those paths,
  *   which the shuffle moves from run to run
  */
final class CatalogWorkload(layer: String, val entries: Seq[(String, Q)],
    warmEntries: Seq[Q]) extends Workload {

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def inputs(ctx: Ctx): collection.Map[String, Any] = Map(
    "entries" -> entries.size,
    // row counts + schema fingerprints, as graft.Bench records them, so
    // data drift is told apart from code drift
    "tables" -> tables.map { t =>
      val p = s"${ctx.data}/$t.parquet"
      t -> Seq(ParquetMeta.rowCount(ctx.spark, p),
        md5hex(ctx.spark.read.parquet(p).schema.json).take(8))
    }.toMap)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  def warmUp(ctx: Ctx): Unit = {
    ctx.spark.range(1000000L).selectExpr("sum(id)").collect()
    warmEntries.foreach(_.run(ctx.spark, ctx.data).count())
  }

  def measure(ctx: Ctx, t: Tracer): collection.Map[String, Any] = {
    val spark = ctx.spark
    val order = ctx.random().shuffle(entries.sortBy(_._2.name))
    val out = ArrayBuffer.empty[Map[String, Any]]
    order.takeWhile(_ => !ctx.overCap).foreach { case (module, q) =>
      // between entries, outside every timed region: drop cached plans and
      // let the context cleaner reap the last entry's blocks (as graft.Bench)
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      val rec = t.span(q.name, "entry") {
        val t0 = System.nanoTime()
        try {
          val df = t.span("Q.run", s"$layer.build") { q.run(spark, ctx.data) }
          val t1 = System.nanoTime()
          val rows = t.span("count", s"$layer.exec") { df.count() }
          val t2 = System.nanoTime()
          // untimed: the values, for the check against the expected digest
          val values = t.span("collect", "check") {
            df.collect().toSeq.map(r => r.toSeq.map(CatalogWorkload.plain))
          }
          Map("rows" -> rows, "build_ms" -> (t1 - t0) / 1e6,
            "exec_ms" -> (t2 - t1) / 1e6, "columns" -> df.columns.toSeq,
            "values" -> values)
        } catch {
          case e: Exception =>
            Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300),
              "build_ms" -> (System.nanoTime() - t0) / 1e6, "exec_ms" -> 0.0)
        }
      }
      out += rec ++ Map("name" -> q.name, "module" -> module)
    }
    Map("entries" -> out)
  }
}

object CatalogWorkload {
  /** A collected value as plain JSON for `analyse.result_digest`: whole
    * numbers as integers, other numbers as doubles, dates as ISO strings,
    * arrays as lists, structs as objects. */
  def plain(v: Any): Any = v match {
    case null => null
    case d: java.lang.Double => d.doubleValue
    case f: java.lang.Float => f.doubleValue
    case d: java.math.BigDecimal => d.doubleValue
    case n: java.lang.Number => n.longValue
    case r: Row => r.schema.fieldNames.zip(r.toSeq.map(plain)).toMap
    case xs: scala.collection.Seq[_] => xs.map(plain)
    case d: java.sql.Date => d.toString
    case other => other // String, Boolean
  }

  /** Five of the build-heavy entries ROADMAP item 1 names, plus a light
    * entry of each module. A full pass of the three modules (94 entries)
    * takes minutes and does not fit one run; q_bpe_train (run in the
    * warm-up) and q_containment_dedup are left out for time. */
  val OperatorEntries: Set[String] = Set(
    // build-heavy
    "q_minhash_candidates", "q_dedup_components", "q_communities",
    "q_entity_resolution", "q_bpe_encode",
    // light, one per module
    "q_text_stats", "q_decontaminate", "q_anomaly")

  /** Entries over each `sources`/`plans` mechanism: versioned writes, time
    * travel, file skipping, deletion vectors, DimFilePrune, MetaAgg, MVs
    * and SqlDml. */
  val SnapshotEntries: Set[String] = Set(
    "q_time_travel", "q_snapshot_diff", "q_file_skip", "q_table_history",
    "q_deletion_vector", "q_dim_file_prune", "q_dim_file_prune_auto",
    "q_meta_agg", "q_stats_agg", "q_mv_incremental", "q_sql_dml")

  private def pick(modules: Seq[(String, Seq[Q])], names: Set[String]) = {
    val all = modules.flatMap { case (m, qs) => qs.map(m -> _) }
    val missing = names -- all.map(_._2.name)
    require(missing.isEmpty, s"catalog entries not found: ${missing.mkString(", ")}")
    all.filter { case (_, q) => names.contains(q.name) }
  }

  private def named(qs: Seq[Q], names: String*): Seq[Q] =
    names.map(n => qs.find(_.name == n).get)

  def operators: CatalogWorkload = new CatalogWorkload("operators", pick(Seq(
    "NorthStarQueries" -> NorthStarQueries.all,
    "PipelineQueries" -> PipelineQueries.all,
    "MiningQueries" -> MiningQueries.all), OperatorEntries),
    named(NorthStarQueries.all ++ PipelineQueries.all, "q_minhash_md5",
      "q_dedup_components_star", "q_bpe_train"))

  def snapshots: CatalogWorkload = new CatalogWorkload("sources", pick(Seq(
    "SnapshotQueries" -> SnapshotQueries.all), SnapshotEntries),
    named(SnapshotQueries.all, "q_meta_tables", "q_update_where",
      "q_sql_timetravel"))
}

/** Writes the oracle SQL of every benchmark catalog entry (null where the
  * entry has none) as JSON `{workload: {entry: sql}}`, for
  * `perfbench/expected.py`. Usage: perfbench.OracleDump <out.json> */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = Map(
      "operators" -> CatalogWorkload.operators.entries,
      "snapshots" -> CatalogWorkload.snapshots.entries).map { case (w, es) =>
      w -> es.map { case (_, q) => q.name -> q.oracle }.toMap
    }
    Main.writeJson(args(0), sql)
  }
}

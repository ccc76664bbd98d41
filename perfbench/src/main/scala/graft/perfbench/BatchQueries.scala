package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

/** Read-only headline queries in a seeded order, each built through
  * `SparkEntry.queries`, planned and collected. Each result's digest is
  * checked by `oracle.py` against the query's DuckDB oracle SQL. */
class BatchQueries(c: Ctx) extends Workload(c) {
  private val spec = new ObjectMapper().readTree(Files.readString(Paths.get(c.input, "batch_queries.json")))
  private val mix = spec.get("mix").elements().asScala.map(_.asText).toVector
  private val order = spec.get("order").elements().asScala.map(_.asText).toVector

  def blockSize: Int = mix.size

  private def run(i: Int, name: String): (Seq[String], Array[Row]) = {
    val df = tracer.span("ops.construct", "ops", i) { graft.SparkEntry.queries(name)(spark, c.tables) }
    tracer.span("plans.plan", "plans", i) { df.queryExecution.executedPlan }
    val rows = tracer.span("spark.execute", "spark", i) { df.collect() }
    tracer.fact("result_rows", rows.length.toDouble)
    (df.columns.toSeq, rows)
  }

  /** Set-up is the first, cold execution of every query in the mix, which
    * warms the JVM until the measured blocks run steady. */
  def setup(): Unit = mix.foreach(run(-1, _))

  def step(i: Int): Seq[OpRec] =
    if (i >= order.size) Nil
    else {
      val name = order(i)
      var res: (Seq[String], Array[Row]) = null
      val r = timed(i, "query", "query", name) { res = run(i, name) }()
      Seq(if (r.ok) r.copy(digest = Canon.digest(res._1, res._2.toSeq)) else r)
    }

  override def extras: Map[String, Any] =
    Map("oracle_sql" -> mix.map(n => n -> graft.SparkEntry.oracleSql.getOrElse(n, "")).toMap)
}

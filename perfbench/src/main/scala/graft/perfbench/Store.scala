package graft.perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types.StructType

/** Store and stream helpers of the index_serving workload. */
object Store {
  val Fmt = "graft.sources.StoreSink"
  /** `graft.maintain.compact` policy, also the `compact_if` arguments. */
  val CompactPolicy = "20000:16:3000"

  /** (plannedFiles, manifestFiles) summed over the graft-store scan nodes. */
  def fileCounts(plan: SparkPlan): (Double, Double) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val ns = nodes(plan)
    def total(k: String) = ns.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
    (total("plannedFiles"), total("manifestFiles"))
  }

  /** Bytes of every file under `path`. */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val it = FileSystem.get(spark.sparkContext.hadoopConfiguration).listFiles(new Path(path), true)
    var n = 0L
    while (it.hasNext) n += it.next().getLen
    n
  }

  /** A running Structured Streaming query whose `foreachBatch` MERGEs each
    * micro-batch into the store `graft.store` names when it starts. */
  final class Stream(spark: SparkSession, schema: StructType, mergeSql: String => String,
                     chk: String, tracer: Tracer) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private implicit val enc: Encoder[Row] = Encoders.row(schema)
    private val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Row]
    @volatile private var bodyNs = 0L
    private val query = mem.toDF().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val t0 = System.nanoTime()
        b.createOrReplaceTempView("perfbench_stream_batch")
        b.sparkSession.sql(mergeSql("perfbench_stream_batch"))
        bodyNs = System.nanoTime() - t0
        ()
      }
      .option("checkpointLocation", chk)
      .start()

    def upsert(rows: Seq[Row]): Unit = {
      mem.addData(rows)
      query.processAllAvailable()
      query.exception.foreach(e => throw e)
      tracer.fact("streaming.body_s", bodyNs / 1e9)
    }

    def stop(): Unit = query.stop()
  }
}

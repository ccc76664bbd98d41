package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{AnnIndex, GraftCatalog, MaxSimIndex, StoreSink, TextIndex}

/** Index lifecycles over two corpus stores seeded from `documents` and
  * `embeddings`. Set-up builds the ANN, BM25 and MaxSim indexes with
  * `buildFromStore` (plus a label-filtered ANN index, which only `build`
  * supports). Row-level writes run merge-on-read (`rowlevel.mode=delta`):
  * a MERGE or DELETE writes equality-delete sidecars instead of rewriting
  * data files. Each block of the seeded sequence then mixes probes, document
  * fetches (multi-key store reads) and corpus writes (append, delta MERGE
  * upsert, DELETE, a streamed `foreachBatch` upsert), and ends with a
  * `refresh` of every index, a CDF read of the block's changes and a
  * maintenance CALL. */
class IndexServing(c: Ctx) extends Workload(c) {
  import IndexServing._
  import Store._

  private val ops: Vector[JsonNode] = {
    val m = new ObjectMapper()
    Files.readAllLines(Paths.get(c.input, "index_ops.jsonl")).asScala.map(m.readTree).toVector
  }
  private var dir, textCorpus, embCorpus = ""
  private def idx(kind: String) = s"$dir/idx-$kind"
  private var buildS = 0.0
  private val refreshRounds = mutable.ArrayBuffer.empty[Double]
  private var lastTerms: Seq[String] = Seq("query", "table")
  private var stream: Stream = _
  private var blockStartVersion = 0
  private var lastDigest: Option[JsonNode] = None

  def blockSize: Int = BlockSize

  private def withStore[T](path: String)(body: => T): T = {
    spark.conf.set(GraftCatalog.StorePathKey, path)
    try body finally spark.conf.unset(GraftCatalog.StorePathKey)
  }

  private def appendTo(path: String, df: DataFrame): Unit =
    df.write.format(Fmt).mode("append").option("path", path).save()

  private def corpus(path: String): DataFrame = spark.read.format(Fmt).option("path", path).load()

  private def corpusVectors(): DataFrame =
    corpus(embCorpus).select(col("k").as("vec_id"), col("amt_cents").as("label"),
      expr("transform(split(emb, ','), x -> cast(x as float))").as("embedding"))

  def setup(): Unit = {
    // session-wide, so the stream's cloned session inherits it too
    spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
    dir = s"${c.work}/index"
    textCorpus = s"$dir/text-corpus"
    embCorpus = s"$dir/emb-corpus"
    graft.functions.FloatDot.register(spark)
    withStore(textCorpus) {
      spark.sql("ALTER TABLE graft.store ADD COLUMN text STRING")
      appendTo(textCorpus, graft.Tables.documents(spark, c.tables)
        .select(col("doc_id").as("k"), lit("d").as("grp"), lit(0L).as("amt_cents"), col("text"))
        .repartitionByRange(4, col("k")))
      spark.sql(s"ALTER TABLE graft.store SET TBLPROPERTIES('graft.maintain.compact'='$CompactPolicy')")
    }
    withStore(embCorpus) {
      spark.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
      appendTo(embCorpus, graft.Tables.embeddings(spark, c.tables)
        .select(col("vec_id").as("k"), lit("e").as("grp"), col("label").cast("long").as("amt_cents"),
          expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb")))
    }
    val t0 = System.nanoTime()
    def build(kind: String)(b: => (Long, Long)): Unit = tracer.span(s"index.build.$kind", "index", -1) {
      b
      if (tracer.on) tracer.fact("index.bytes", dirBytes(spark, idx(kind)).toDouble)
    }
    build("ann")(AnnIndex.buildFromStore(spark, embCorpus, idx("ann")))
    build("text")(TextIndex.buildFromStore(spark, textCorpus, idx("text")))
    build("maxsim")(MaxSimIndex.buildFromStore(spark, embCorpus, idx("maxsim")))
    buildS = (System.nanoTime() - t0) / 1e9
    // buildFromStore has no filter attribute, so the filtered index is built
    // from the corpus frame and is not refreshed
    AnnIndex.build(spark, corpusVectors(), idx("ann_filtered"), Some("label"))
    withStore(embCorpus) {
      stream = new Stream(spark, corpusSchema("emb"), MergeSql("emb", _), s"$dir/stream-chk", tracer)
    }
  }

  private def vectors(op: JsonNode): Seq[Array[Float]] =
    op.get("vecs").elements().asScala.map(_.elements().asScala.map(_.floatValue).toArray).toSeq

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))

  private def annQueries(vs: Seq[Array[Float]]): DataFrame =
    withNorm(spark.createDataFrame(vs.zipWithIndex.map { case (v, j) => Row(j.toLong, v.toSeq) }.asJava, AnnSchema))

  private def maxsimQueries(vs: Seq[Array[Float]]): DataFrame =
    annQueries(vs).select(expr("vec_id div 4").as("q_id"), col("vec_id").as("qt"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))

  /** Probe call (which may run its own jobs) and the collect of its result. */
  private def probe(i: Int, kind: String)(call: => DataFrame): Array[Row] = {
    val df = tracer.span(s"index.probe_call.$kind", "index", i)(call)
    tracer.span(s"index.probe_fetch.$kind", "index", i) {
      val rows = df.collect()
      if (tracer.on) {
        val (planned, manifest) = fileCounts(df.queryExecution.executedPlan)
        tracer.fact("index.files_planned", planned)
        tracer.fact("index.files_manifest", manifest)
      }
      rows
    }
  }

  private def docRows(op: JsonNode): Seq[Row] =
    op.get("rows").elements().asScala.map(r => Row(r.get(0).asLong, "d", 0L, r.get(1).asText)).toSeq

  private def vecRows(op: JsonNode): Seq[Row] =
    op.get("rows").elements().asScala.map { r =>
      Row(r.get(0).asLong, "e", r.get(1).asLong,
        r.get(2).elements().asScala.map(x => java.lang.Float.toString(x.floatValue)).mkString(","))
    }.toSeq

  def step(i: Int): Seq[OpRec] = if (i >= ops.size) Nil else {
    val op = ops(i)
    if (i % BlockSize == 0) blockStartVersion = version(textCorpus)
    op.get("kind").asText match {
      case "ann" =>
        val q = annQueries(vectors(op))
        Seq(timed(i, "ann", "probe") { probe(i, "ann")(AnnIndex.probe(spark, q, idx("ann"))) }())
      case "ann_filtered" =>
        val q = annQueries(vectors(op))
        val label = op.get("label").asLong
        Seq(timed(i, "ann_filtered", "probe") {
          probe(i, "ann_filtered")(AnnIndex.probeFiltered(spark, q, idx("ann_filtered"), label))
        }())
      case "bm25_topn" =>
        Seq(timed(i, "bm25_topn", "probe") { probe(i, "bm25_topn")(TextIndex.probeTopN(spark, idx("text"), 10)) }())
      case "bm25_or" =>
        val terms = op.get("terms").elements().asScala.map(_.asText).toSeq
        lastTerms = terms
        Seq(timed(i, "bm25_or", "probe") { probe(i, "bm25_or")(TextIndex.probeOr(spark, idx("text"), terms, 15)) }())
      case "maxsim" =>
        val q = maxsimQueries(vectors(op))
        Seq(timed(i, "maxsim", "probe") { probe(i, "maxsim")(MaxSimIndex.probe(spark, q, idx("maxsim"))) }())
      case "fetch" =>
        val ids = op.get("ids").elements().asScala.map(_.asLong).toSeq
        var got: Array[Row] = null
        Seq(timed(i, "fetch", "read") {
          got = tracer.span("store.scan", "store", i) {
            val df = corpus(textCorpus).where(col("k").isin(ids: _*)).select(col("k"), col("text"))
            val rows = df.collect()
            if (tracer.on) {
              val (p, m) = fileCounts(df.queryExecution.executedPlan)
              tracer.fact("store.files_planned", p)
              tracer.fact("store.files_manifest", m)
            }
            rows
          }
        } {
          val crc = new java.util.zip.CRC32
          val have = Seq(got.length.toLong, got.map(_.getLong(0)).sum, got.map { r =>
            crc.reset(); crc.update(r.getString(1).getBytes("UTF-8")); crc.getValue
          }.sum)
          val want = op.get("expect").elements().asScala.map(_.asLong).toSeq
          if (have == want) None else Some(s"fetch $ids: $have != $want")
        })
      case "doc_append" =>
        val df = spark.createDataFrame(docRows(op).asJava, corpusSchema("text"))
        Seq(timed(i, "doc_append", "write") { tracer.span("store.append", "store", i) { appendTo(textCorpus, df) } }())
      case "doc_upsert" =>
        spark.createDataFrame(docRows(op).asJava, corpusSchema("text")).createOrReplaceTempView("perfbench_docs")
        Seq(timed(i, "doc_upsert", "write") {
          tracer.span("store.merge", "store", i) { withStore(textCorpus) { spark.sql(MergeSql("text", "perfbench_docs")) } }
        }())
      case "doc_delete" | "vec_delete" =>
        val kind = op.get("kind").asText
        val path = if (kind == "doc_delete") textCorpus else embCorpus
        val sql = s"DELETE FROM graft.store WHERE k BETWEEN ${op.get("lo").asLong} AND ${op.get("hi").asLong}"
        Seq(timed(i, kind, "write") { tracer.span("store.delete", "store", i) { withStore(path) { spark.sql(sql) } } }())
      case "vec_stream" =>
        val rows = vecRows(op)
        Seq(timed(i, "vec_stream", "write") { tracer.span("streaming.batch", "streaming", i) { stream.upsert(rows) } }())
      case "refresh" =>
        val t0 = System.nanoTime()
        val r = timed(i, "refresh", "refresh") {
          def parts(kind: String)(r: => (Long, Long)): Unit =
            tracer.span(s"index.refresh.$kind", "index", i) { tracer.fact("index.refresh_parts_rewritten", r._2.toDouble) }
          parts("ann")(AnnIndex.refresh(spark, idx("ann")))
          parts("text")(TextIndex.refresh(spark, idx("text")))
          parts("maxsim")(MaxSimIndex.refresh(spark, idx("maxsim")))
        }()
        if (r.ok) refreshRounds += (System.nanoTime() - t0) / 1e9
        Seq(r)
      case "cdf" =>
        var got: Array[Row] = null
        val from = blockStartVersion
        Seq(timed(i, "cdf", "read") {
          got = tracer.span("store.cdf", "store", i) {
            StoreSink.changes(spark, textCorpus, from, None)
              .groupBy(col("op")).agg(count(lit(1)), sum(crc32(col("text").cast("binary")))).collect()
          }
        } {
          def of(o: String) = got.find(_.getString(0) == o).map(r => (r.getLong(1), r.getLong(2))).getOrElse((0L, 0L))
          val (ins, del) = (of("insert"), of("delete"))
          val have = Seq(ins._1 - del._1, ins._2 - del._2)
          val want = op.get("expect").elements().asScala.map(_.asLong).toSeq
          if (have == want) None else Some(s"cdf from v$from: $have != $want")
        })
      case m @ ("maintain" | "compact_if") =>
        val sql = if (m == "maintain") s"CALL graft.maintain('$textCorpus')"
          else s"CALL graft.compact_if('$embCorpus', ${CompactPolicy.replace(":", ", ")})"
        lastDigest = Some(op)
        Seq(timed(i, m, "write") { tracer.span("catalog.maintain", "catalog", i) { spark.sql(sql).collect() } }())
    }
  }

  private def version(path: String): Int = StoreSink.history(path).last._1

  private def digest(df: DataFrame): String = Canon.digest(df.columns.toSeq, df.collect().toSeq)

  private def same(what: String, a: DataFrame, b: DataFrame): Option[String] =
    if (digest(a) == digest(b)) None else Some(s"$what: index probe differs from its reference")

  private def checkQueries(maxId: Int): DataFrame =
    withNorm(corpusVectors().where(col("vec_id") < maxId)).select("vec_id", "embedding", "nrm")

  private def maxsimCheckQueries(): DataFrame =
    checkQueries(20).select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))

  /** MaxSim of each query over every corpus document (doc = vec_id div 10),
    * with the index kernel's one e6 rounding and integer max-then-sum. */
  private def exactMaxSim(queries: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("maxsim_e6").desc, col("d_id"))
    withNorm(corpusVectors()).where(col("nrm") > 0)
      .select(expr("vec_id div 10").as("d_id"), col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      .crossJoin(queries)
      .withColumn("cos_e6", round(expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")) * 1e6).cast("long"))
      .groupBy(col("q_id"), col("qt"), col("d_id")).agg(max(col("cos_e6")).as("m"))
      .groupBy(col("q_id"), col("d_id")).agg(sum(col("m")).as("maxsim_e6"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select(col("q_id"), col("d_id"), col("maxsim_e6"), col("rn"))
  }

  /** After set-up, the first-build checks: each store-built index answers
    * like its non-indexed twin. */
  override def afterSetup(): Seq[OpRec] =
    Seq(
      checkOp("first_build.ann") {
        same("ann vs q_sim_ivf_kmeans", AnnIndex.probe(spark, checkQueries(10), idx("ann")),
          graft.SparkEntry.queries("q_sim_ivf_kmeans")(spark, c.tables))
      },
      checkOp("first_build.bm25") {
        same("bm25 vs q_bm25", TextIndex.probeTop(spark, idx("text"), 20),
          graft.SparkEntry.queries("q_bm25")(spark, c.tables))
      },
      checkOp("first_build.maxsim") {
        // q_sim_maxsim_ivf leaves its query tokens out of the corpus, so
        // the twin here is an exact MaxSim over the whole corpus: probing
        // every cell makes every document a candidate
        val i = idx("maxsim")
        same("maxsim vs exact MaxSim", MaxSimIndex.probe(spark, maxsimCheckQueries(), i,
          nprobe = MaxSimIndex.cellCounts(i).size), exactMaxSim(maxsimCheckQueries()))
      })

  /** After the phase: the corpora match the model, and each refreshed index
    * answers like a rebuild of the same corpus (exhaustive probes, so the
    * retrained codebooks cannot differ). */
  override def finish(): Seq[OpRec] = if (stream == null) Nil else {
    stream.stop()
    val state = checkOp("final_state") {
      lastDigest.flatMap { op =>
        val r = corpus(textCorpus).agg(count(lit(1)), sum(col("k")), sum(crc32(col("text").cast("binary")))).head()
        val have = Seq(r.getLong(0), r.getLong(1), r.getLong(2))
        val want = op.get("digest").elements().asScala.map(_.asLong).toSeq
        val vecs = corpus(embCorpus).count()
        if (have != want) Some(s"text corpus $have != model $want")
        else if (vecs != op.get("vectors").asLong) Some(s"emb corpus has $vecs vectors, model ${op.get("vectors")}")
        else None
      }
    }
    def fresh(kind: String) = s"$dir/frozen-$kind"
    AnnIndex.buildFromStore(spark, embCorpus, fresh("ann"))
    TextIndex.buildFromStore(spark, textCorpus, fresh("text"))
    MaxSimIndex.buildFromStore(spark, embCorpus, fresh("maxsim"))
    Seq(state,
      checkOp("final_refresh.ann") {
        def p(i: String) = AnnIndex.probe(spark, checkQueries(10), i, nprobe = AnnIndex.cellCounts(i).size)
        same("refreshed ann vs rebuild", p(idx("ann")), p(fresh("ann")))
      },
      checkOp("final_refresh.bm25") {
        same("refreshed bm25 probeOr vs rebuild", TextIndex.probeOr(spark, idx("text"), lastTerms, 15),
          TextIndex.probeOr(spark, fresh("text"), lastTerms, 15)).orElse(
          same("refreshed bm25 probeTopN vs rebuild", TextIndex.probeTopN(spark, idx("text"), 10),
            TextIndex.probeTopN(spark, fresh("text"), 10)))
      },
      checkOp("final_refresh.maxsim") {
        def p(i: String) = MaxSimIndex.probe(spark, maxsimCheckQueries(), i, nprobe = MaxSimIndex.cellCounts(i).size)
        same("refreshed maxsim vs rebuild", p(idx("maxsim")), p(fresh("maxsim")))
      })
  }

  override def extras: Map[String, Any] = Map("build_s" -> buildS, "refresh_rounds_s" -> refreshRounds.toSeq)
}

object IndexServing {
  /** Ops per block of the generated sequence (gen.py INDEX_BLOCK + 3). */
  val BlockSize = 16
  val AnnSchema: StructType = StructType(Seq(StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def corpusSchema(payload: String): StructType = StructType(Seq(StructField("k", LongType, nullable = false),
    StructField("grp", StringType), StructField("amt_cents", LongType), StructField(payload, StringType)))

  def MergeSql(payload: String, src: String): String =
    s"""MERGE INTO graft.store t USING $src s ON t.k = s.k
       |WHEN MATCHED THEN UPDATE SET amt_cents = s.amt_cents, $payload = s.$payload
       |WHEN NOT MATCHED THEN INSERT (k, grp, amt_cents, $payload)
       |  VALUES (s.k, s.grp, s.amt_cents, s.$payload)""".stripMargin
}

package graft.perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.etl.{EnrichmentDims, GoldAggregates, StarSchemaBuilder}
import graft.perfbench.PerfMain.{fileStats, timed}

/** `etl_build`: the BuildMain pipeline, one step per operation, each
  * round into a fresh output directory. */
final class EtlBuild(spark: SparkSession, data: String, work: Path,
                     tracer: Tracer) extends Workload {
  private var lastOut: Path = work.resolve("etl-warm")
  private var filesWritten, bytesWritten = 0L

  /** Warm-up operation: one small enrichment-dim write, outside the
    * timed output directories. */
  def setup(): Unit =
    StarSchemaBuilder.appendUnique(spark,
      EnrichmentDims.dimTin(graft.Roles.providers(spark, data)),
      work.resolve("etl-warm").resolve("dim_tin").toString,
      Seq("tin_type", "tin_value"))

  def round(r: Int): Seq[Op] = {
    PerfMain.deleteTree(lastOut) // keep only the newest build on disk
    val out = work.resolve(s"etl-r$r")
    val o = out.toString
    lastOut = out
    def step(kind: String, span: String)(body: => Unit): Op =
      timed(kind)(tracer.span(span, r.toLong) { body; "" })
    val ops = Seq(
      step("star_schema", "etl.star_schema") {
        StarSchemaBuilder.runFull(spark, data, o)
      },
      step("enrichment_dims", "etl.enrichment_dims") {
        val providers = graft.Roles.providers(spark, data)
        val rates = graft.Roles.rates(spark, data)
        StarSchemaBuilder.appendUnique(spark,
          EnrichmentDims.dimNpi(providers), s"$o/dim_npi", Seq("npi"))
        StarSchemaBuilder.appendUnique(spark,
          EnrichmentDims.dimNpiAddress(providers), s"$o/dim_npi_address",
          Seq("npi", "address_hash"))
        StarSchemaBuilder.appendUnique(spark,
          EnrichmentDims.dimTin(providers), s"$o/dim_tin",
          Seq("tin_type", "tin_value"))
        StarSchemaBuilder.appendUnique(spark,
          EnrichmentDims.xrefPgMemberTin(providers), s"$o/xref_pg_member_tin",
          Seq("provider_group_id", "tin_value"))
        StarSchemaBuilder.appendUnique(spark,
          EnrichmentDims.dimCodeCat(rates, "billing_code"),
          s"$o/dim_code_cat", Seq("proc_cd"))
      },
      step("gold", "etl.gold") {
        GoldAggregates.materialize(spark, data, s"$o/agg_market_rates")
      },
      step("ivf_index", "operators.ivf_index") {
        graft.operators.Similarity.writeIvfIndex(spark, data, s"$o/ivf_index")
      },
      step("minhash_store", "operators.minhash_store") {
        StarSchemaBuilder.appendUnique(spark,
          graft.operators.Dedup.minhashSignaturesFor(
            graft.Tables.load(spark, data, "documents"), "doc_id", "text")
            .withColumn("ingest_batch", lit(-1L)),
          s"$o/minhash_sig_store", Seq("doc_id"))
        graft.streaming.DedupStream.compactStore(spark,
          s"$o/minhash_sig_store", maxFiles = 16)
      })
    if (tracer.enabled) {
      val (f, b) = fileStats(out)
      filesWritten += f; bytesWritten += b
    }
    ops
  }

  override def layerMetrics(from: Long): Map[String, Double] = {
    val self = tracer.selfSeconds(from)
    Seq("etl.star_schema", "etl.enrichment_dims", "etl.gold",
      "operators.ivf_index", "operators.minhash_store")
      .map(n => s"${n}_s" -> self.getOrElse(n, 0.0)).toMap ++ Map(
      "etl.files_written" -> filesWritten.toDouble,
      "etl.bytes_written_mb" -> bytesWritten / 1048576.0)
  }

  override def report: Map[String, Any] = Map("etl_out" -> lastOut.toString,
    "oracle_sql" -> Map("star_fact_build" ->
      graft.SparkEntry.oracleSql("star_fact_build")))
}

/** `analytics_batch`: each query built through `SparkEntry.queries`,
  * then fully consumed (collected) once, cold. The collected rows are
  * written back as parquet after the timed phase for the oracle check. */
final class AnalyticsBatch(spark: SparkSession, data: String, work: Path,
                           tracer: Tracer) extends Workload {
  import AnalyticsBatch._
  private val queries = graft.SparkEntry.queries
  private val collected = scala.collection.mutable.Map.empty[
    String, (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]

  /** Warm-up operation: one rates-star query outside the timed set. */
  def setup(): Unit = queries(WarmupQuery)(spark, data).collect()

  def round(r: Int): Seq[Op] = Names.map { name =>
    timed(name)(tracer.span(s"query.$name", r.toLong) {
      val df = tracer.span("query.eager", r.toLong)(queries(name)(spark, data))
      val rows = tracer.span("query.action", r.toLong)(df.collect())
      collected(name) = (df.schema, rows)
      rows.length.toString
    })
  }

  override def layerMetrics(from: Long): Map[String, Double] = {
    val self = tracer.selfSeconds(from)
    Map("query.eager_s" -> self.getOrElse("query.eager", 0.0),
      "query.action_s" -> self.getOrElse("query.action", 0.0)) ++
      Names.map(n => s"query.${n}_s" ->
        tracer.durationsMs(s"query.$n", from).sum / 1e3)
  }

  override def report: Map[String, Any] = {
    val dir = work.resolve("results")
    collected.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(name).toString)
    }
    collected.clear()
    val oracles = graft.SparkEntry.oracleSql
    Map("results_dir" -> dir.toString,
      "oracle_sql" -> Names.map(n => n -> oracles.getOrElse(n, null)).toMap)
  }
}

object AnalyticsBatch {
  /** Three groups: the rates star schema, the grammar/profile family
    * and the LLM-data operators whose cost is mostly eager pre-action
    * work or codegen. Eight, not more: a cold pass of these takes ~16 s
    * on 4 cores, and every run of every workload has to fit the
    * benchmark's time budget. */
  val Names: Seq[String] = Seq(
    "s15_agg_market_rates", "a7_market_profile", "p9_row_dedup",
    "dq_profile",
    "text_pmi_pairs", "sim_ivf_topk", "search_index_topk", "graph_kcore2")
  val WarmupQuery = "a4_rate_summary"
}

/** `dashboard_wide`: a RestServer over the inputs, driven over loopback
  * HTTP by a closed loop of client threads. `run.py` draws the request
  * list from the seed; this class only replays it. */
final class Dashboard(spark: SparkSession, data: String, work: Path,
                      tracer: Tracer, clients: Int) extends Workload {
  private type Req = (String, String) // (route kind, path + query)
  private val (warm, rounds) = {
    val m = PerfMain.json.readTree(work.resolve("requests.json").toFile)
    def reqs(n: com.fasterxml.jackson.databind.JsonNode): Seq[Req] =
      n.elements.asScala.map(x => (x.get(0).asText, x.get(1).asText)).toSeq
    (reqs(m.get("warm")), m.get("rounds").elements.asScala.map(reqs).toSeq)
  }
  private val server = new graft.serving.RestServer(spark, data)
  private var port = 0
  private var warmupS = 0.0

  /** start() + warmup() the server, then send the warm-up request. */
  def setup(): Unit = {
    port = server.start()
    val t0 = System.nanoTime()
    tracer.span("serving.warmup")(server.warmup())
    warmupS = (System.nanoTime() - t0) / 1e9
    val bad = run(warm, -1).filterNot(_.ok)
    if (bad.nonEmpty) sys.error(s"warm-up request failed: ${bad.head}")
  }

  def round(r: Int): Seq[Op] = run(rounds(r), r)

  /** Closed loop: each client sends its next request when the previous
    * one has been answered. */
  private def run(reqs: Seq[Req], r: Int): Seq[Op] = {
    val queue = new ConcurrentLinkedQueue[(Req, Int)](reqs.zipWithIndex.asJava)
    val done = new Array[Op](reqs.size)
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          val ((kind, path), i) = next
          done(i) = tracer.span(s"serving.$kind", r.toLong)(get(kind, path))
          next = queue.poll()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    done.toSeq
  }

  private def get(kind: String, path: String): Op = {
    val t0 = System.nanoTime()
    try {
      val c = URI.create(s"http://127.0.0.1:$port$path").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(10000)
      c.setReadTimeout(120000)
      val status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      Op(kind, (System.nanoTime() - t0) / 1e6, status == 200,
        s"$status $path\n$body")
    } catch {
      case scala.util.control.NonFatal(e) =>
        Op(kind, (System.nanoTime() - t0) / 1e6, ok = false,
          s"0 $path\n${e.getClass.getName}: ${e.getMessage}")
    }
  }

  override def layerMetrics(from: Long): Map[String, Double] = {
    val routes = rounds.flatten.map(_._1).distinct
    Map("serving.warmup_s" -> warmupS) ++ routes.flatMap { k =>
      val ms = tracer.durationsMs(s"serving.$k", from)
      Seq(s"serving.$k.p50_ms" -> PerfMain.percentile(ms, 0.5),
        s"serving.$k.p95_ms" -> PerfMain.percentile(ms, 0.95))
    }
  }

  override def close(): Unit = server.stop()
}

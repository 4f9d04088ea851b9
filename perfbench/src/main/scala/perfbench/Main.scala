package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.etl._
import graft.ext.{CorpusPipeline, Dedup, TextOps}
import graft.streaming.StreamingSync
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Drives one workload against the engine's public entry points.
  *
  * usage: perfbench.Main <spec.json> <out.json>
  *
  * The spec (written by run.py) names the workload, the generated input
  * files, the number of operations and whether the run is traced. The output holds
  * the raw samples of the timed operations, each operation's answer for
  * the correctness checks, the set-up timings, and in a traced run the
  * spans and the per-layer metrics. run.py turns it into the metrics.
  *
  * One client thread issues every operation, one after another (a closed
  * loop). Between operations, outside the timed region, the answers are
  * collected and Spark's caches are cleared.
  */
object Main {

  private val mapper = new ObjectMapper()

  /** The CLI's session (graft.Main.session): local[nproc] with as many
    * shuffle partitions, AQE, the engine's SQL extensions and its
    * scan/cache settings. */
  def session(cores: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final case class Op(kind: String, ms: Double, error: Option[String], answer: Any,
      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val spec = mapper.readTree(new File(args(0)))
    val out = new File(args(1))
    val root = spec.get("root").asText()
    val cores = spec.get("cores").asInt()
    val spark = session(cores, root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spec.get("trace").asBoolean())
    val hooks = if (tracer.enabled) Some(Hooks.install(spark, tracer)) else None
    val w = spec.get("workload").asText() match {
      case "sql_serving" => new SqlServing(spark, spec, tracer)
      case "corpus_prep" => new CorpusPrep(spark, spec, tracer)
      case "cur_stream"  => new CurStream(spark, spec, tracer)
      case other         => sys.error(s"unknown workload $other")
    }
    val result = try {
      tracer.beginOp(-1)
      val setupStart = tracer.now
      w.setup()
      val setupEnd = tracer.now
      clearCaches(spark)
      val setupLayers = hooks.map { h =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        Layers.forOp(h.take(), tracer, -1, setupStart, setupEnd, cores,
          Op("setup", setupEnd - setupStart, None, null)) ++ traceExtras(spark, h, w, -1)
      }

      // the JVM's CPU time (all threads): what an operation costs in
      // compute, which host steal time does not inflate
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val memPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      memPools.foreach(_.resetPeakUsage())
      val ops = mutable.ArrayBuffer.empty[Op]
      val layerOps = mutable.ArrayBuffer.empty[Map[String, Double]]
      // a fixed number of operations, so the work a run does does not
      // depend on how fast the engine is
      for (i <- 0 until spec.get("ops").asInt()) {
        tracer.beginOp(i)
        spark.sparkContext.setLocalProperty("perfbench.op", i.toString)
        val opStart = tracer.now
        val cpuStart = os.getProcessCpuTime
        val op = try w.op(i) catch {
          case e: Exception => Op("error", tracer.now - opStart, Some(e.toString.take(500)), null)
        }
        val opEnd = tracer.now
        ops += op.copy(extra = op.extra + ("cpu_ms" -> (os.getProcessCpuTime - cpuStart) / 1e6))
        // outside the timed region: caches left behind, then cleared
        val left = spark.sparkContext.getPersistentRDDs.size
        clearCaches(spark)
        hooks.foreach { h =>
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          layerOps += Layers.forOp(h.take(), tracer, i, opStart, opEnd, cores, op) +
            ("spark.cached_rdds_left" -> left.toDouble) ++ traceExtras(spark, h, w, i)
        }
      }
      val peakMiB = memPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
      w.finish()
      val spans = tracer.spans
      Map(
        "session_s" -> sessionS,
        "engine_setup_s" -> (setupEnd - setupStart) / 1000,
        "setup" -> w.setupInfo,
        "setup_layers" -> setupLayers,
        "peak_heap_mib" -> peakMiB,
        "ops" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms,
          "error" -> o.error.orNull, "answer" -> o.answer) ++ o.extra),
        "layers" -> layerOps,
        "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "op" -> s.op,
          "self_ms" -> Tracer.selfMs(s, spans))),
        "conf" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k == "spark.master" }.toSeq.sortBy(_._1).toMap,
        "xmx_mib" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version)
    } finally spark.stop()
    mapper.writeValue(out, Json.toJava(result))
  }

  /** The workload's traced-run extras for operation `i`, run after its
    * layers were taken and outside its timed region; the Spark events
    * they cause are discarded. */
  private def traceExtras(spark: SparkSession, h: Hooks, w: Workload, i: Int): Map[String, Double] = {
    val extras = w.traceExtras(i)
    clearCaches(spark)
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    h.take()
    extras
  }

  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Time `body` in milliseconds, catching its failure as the op's error. */
  def timed[T](body: => T): (Double, Either[String, T]) = {
    val s = System.nanoTime()
    val r = try Right(body) catch {
      case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    ((System.nanoTime() - s) / 1e6, r)
  }

  def rowsJson(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map(Json.cell))
}

/** A workload: untimed set-up, the timed operation, and what a traced
  * run adds for the layers the generic listeners cannot see. */
abstract class Workload(val spark: SparkSession, val spec: JsonNode, val tracer: Tracer) {
  val root: String = spec.get("root").asText()
  def setup(): Unit
  def setupInfo: Map[String, Any] = Map.empty
  def op(i: Int): Main.Op
  /** Per-layer metrics of operation `i` (-1: the set-up) that only
    * extra engine calls can measure; called in traced runs only. */
  def traceExtras(i: Int): Map[String, Double] = Map.empty
  def finish(): Unit = ()
  protected def str(k: String): String = spec.get(k).asText()
  protected def loaderAt(dir: String): Loader = {
    val l = new ParquetLoader(dir, "bench")
    if (tracer.enabled) new TracingLoader(l, tracer) else l
  }
  protected def engineConfig(warehouse: String): EngineConfig =
    EngineConfig(sourceRoot = s"file://${str("cur_root")}",
      curPaths = spec.get("cur_paths").elements().asScala.map(_.asText()).toSeq,
      warehouseDir = warehouse, jdbcUrl = None, jdbcUser = "", jdbcPassword = "",
      schema = "bench", syncMonths = 3, logLevel = "ERROR")
}

/** SQL serving. Set-up: the CUR sync itself, a replace-mode Sync.run over
  * the window, and one CorpusPipeline.prepareAndWrite of a small corpus,
  * both timed and checked. Then a stream of D1-D5 requests as SQL text
  * over the synced `costs` view, `sync_log` and raw tables, and declared
  * c-family queries, each collected with `collect()`. */
final class SqlServing(spark: SparkSession, spec: JsonNode, tracer: Tracer)
    extends Workload(spark, spec, tracer) {
  private val warehouse = s"$root/serving_wh"
  private val cfg = engineConfig(warehouse)
  private val loader = loaderAt(warehouse)
  private val tablesDir = str("tables_dir")
  private val requests = spec.get("requests").elements().asScala.toVector
  private val asOf = LocalDate.parse(str("as_of"))
  private val firstAnswers = mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Seq[Row])]
  private lazy val refs: Map[String, String] =
    (Seq("sync_log") ++ cfg.curPaths.map(p => "raw_" + Identifiers.tableNameFromPath(p)))
      .map(t => s"{$t}" -> loader.sqlRef(t).get).toMap
  private var info = Map.empty[String, Any]

  override def setupInfo: Map[String, Any] = info

  private def costsAnswer(): Seq[Seq[Any]] = Main.rowsJson(spark.sql(
    """SELECT source_table, account_id, service, year(date) AS y, month(date) AS m,
      |       COUNT(*) AS n, SUM(cost) AS s
      |FROM costs GROUP BY source_table, account_id, service, year(date), month(date)""".stripMargin)
    .collect().toSeq)

  private def sync(opts: Sync.Options): (Double, Map[String, Any]) = {
    val (ms, r) = Main.timed(tracer.span("etl.Sync.run")(Sync.run(spark, cfg, loader, opts)))
    (ms, r match {
      case Left(e) => Map("error" -> e)
      case Right(res) => Map("status" -> res.tables.map(t => s"${t.table}:${t.status}"),
        "costs" -> costsAnswer())
    })
  }

  override def setup(): Unit = {
    val (ms, res) = sync(Sync.Options(months = spec.get("months").asInt(), asOf = asOf))
    val (corpusMs, corpus) = CorpusStages.prepare(spark, tracer, str("docs"),
      s"$root/corpus_out", spec.get("shards").asInt())
    info = Map("sync_ms" -> ms, "sync" -> res, "corpus_ms" -> corpusMs, "corpus" -> corpus)
    // warm-up: the first request of each kind and of each declared query
    requests.take(spec.get("cycle").asInt())
      .distinctBy(r => if (r.has("name")) r.get("name").asText() else r.get("kind").asText())
      .foreach(run)
  }

  override def traceExtras(i: Int): Map[String, Double] =
    if (i < 0) CorpusStages.stages(spark, tracer, spark.read.parquet(str("docs"))) else Map.empty

  private def run(r: JsonNode): Seq[Row] = r.get("kind").asText() match {
    case "c" =>
      val q = graft.Queries.byName(r.get("name").asText())
      tracer.span("ops.declared_query")(q.fn(spark, tablesDir).collect().toSeq)
    case kind =>
      val sql = refs.foldLeft(r.get("sql").asText()) { case (s, (k, v)) => s.replace(k, v) }
      val layer = kind match {
        case "D1" | "D2" | "D3" => "etl.costs_query"
        case "D4" => "etl.raw_inspect"
        case _ => "etl.sync_log_query"
      }
      tracer.span(layer)(spark.sql(sql).collect().toSeq)
  }

  override def op(i: Int): Main.Op = {
    val r = requests(i % requests.size)
    val kind = r.get("kind").asText()
    val (ms, res) = Main.timed(run(r))
    val answer: Any = (kind, res) match {
      case (_, Left(_)) => null
      case ("c", Right(rows)) =>
        val name = r.get("name").asText()
        firstAnswers.get(name) match {
          case None =>
            firstAnswers(name) = (graft.Queries.byName(name).fn(spark, tablesDir).schema, rows)
            "first"
          case Some((_, first)) => if (first == rows) "same" else "differs"
        }
      case ("D4", Right(rows)) =>
        rows.map { row =>
          val names = row.schema.fieldNames
          Json.cell(row.getAs[Any](Seq("line_item_usage_account_id", "lineitem_usageaccountid")
            .find(names.contains).getOrElse(names.head)))
        }
      case (_, Right(rows)) => Main.rowsJson(rows)
    }
    Main.Op(kind, ms, res.left.toOption, answer, Map("req" -> (i % requests.size),
      "rows" -> res.map(_.size).getOrElse(0)))
  }

  /** Write the first answer of each c-family query for the oracle check. */
  override def finish(): Unit = {
    for ((name, (schema, rows)) <- firstAnswers)
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$root/answers/$name")
    new File(s"$root/answers").mkdirs()
    val oracles = graft.SparkEntry.oracleSql.filter { case (k, _) => firstAnswers.contains(k) }
    new ObjectMapper().writeValue(new File(s"$root/answers/oracle_sql.json"), Json.toJava(oracles))
  }
}

/** Corpus preparation: one CorpusPipeline.prepareAndWrite per operation.
  * A traced run additionally calls the stages one at a time. */
final class CorpusPrep(spark: SparkSession, spec: JsonNode, tracer: Tracer)
    extends Workload(spark, spec, tracer) {
  private val shards = spec.get("shards").asInt()

  /** Warm-up on a small corpus of the same shape. */
  override def setup(): Unit =
    CorpusStages.prepare(spark, tracer, str("warmup_docs"), s"$root/corpus_out", shards)._2
      .get("error").foreach(e => sys.error(e.toString))

  override def op(i: Int): Main.Op = {
    val (ms, answer) = CorpusStages.prepare(spark, tracer, str("docs"), s"$root/corpus_out", shards)
    val error = answer.get("error").map(_.toString)
    Main.Op("prepare", ms, error, if (error.isEmpty) answer else null)
  }

  override def traceExtras(i: Int): Map[String, Double] =
    CorpusStages.stages(spark, tracer, spark.read.parquet(str("docs")))
}

/** The corpus pipeline as the benchmark drives it. */
object CorpusStages {

  /** One timed CorpusPipeline.prepareAndWrite of the documents at `in`
    * into `outPath`, which is deleted afterwards. The answer holds the
    * chunk count and the ids of the documents with output chunks, or the
    * error. */
  def prepare(spark: SparkSession, tracer: Tracer, in: String, outPath: String,
      shards: Int): (Double, Map[String, Any]) = {
    val (ms, res) = Main.timed(tracer.span("ext.CorpusPipeline.prepareAndWrite")(
      CorpusPipeline.prepareAndWrite(spark.read.parquet(in), outPath, shards = Some(shards))))
    val answer = res match {
      case Left(e) => Map[String, Any]("error" -> e)
      case Right(w) => Map[String, Any]("chunks" -> w.chunksWritten,
        "doc_ids" -> spark.read.parquet(outPath).select("doc_id").distinct().collect()
          .map(_.getLong(0)).sorted.toSeq)
    }
    Files.delete(new File(outPath))
    (ms, answer)
  }

  /** The pipeline's stages called one at a time, each on the previous
    * stage's materialized output, plus the dedup pair counts. */
  def stages(spark: SparkSession, tracer: Tracer, in: DataFrame): Map[String, Double] = {
    def timedCount(name: String)(df: => DataFrame): (DataFrame, Double) = {
      val s = System.nanoTime()
      val d = tracer.span(name) { val x = df.persist(); x.count(); x }
      (d, (System.nanoTime() - s) / 1e6)
    }
    val nIn = in.count().toDouble
    val (filtered, qMs) = timedCount("ext.TextOps.qualityFilter")(
      TextOps.qualityFilter(in, "doc_id", "text"))
    val fdocs = in.join(filtered.select("doc_id"), "doc_id")
    val (pdocs, pMs) = timedCount("ext.Dedup.paragraphDedup")(
      Dedup.paragraphDedup(fdocs, "doc_id", "text").filter(col("clean_text") =!= "")
        .select(col("doc_id"), col("clean_text").as("text")))
    val s = System.nanoTime()
    val pipe = tracer.span("ext.Dedup.dedupPipeline") {
      val p = Dedup.dedupPipeline(pdocs, "doc_id", "text",
        filtered.select(col("doc_id"), col("length_score")), scoreCol = "length_score")
      p.kept.count()
      p
    }
    val dMs = (System.nanoTime() - s) / 1e6
    val survivors = pdocs.select("doc_id")
      .join(pipe.clusters.select("doc_id"), Seq("doc_id"), "left_anti")
      .union(pipe.kept.select(col("keep_id").as("doc_id")))
    val (chunks, cMs) = timedCount("ext.TextOps.chunk")(
      TextOps.chunk(pdocs.join(survivors, "doc_id"), "doc_id", "text"))
    val candidates = pipe.candidates.count().toDouble
    val confirmed = pipe.confirmed.count().toDouble
    val kept = chunks.select("doc_id").distinct().count().toDouble
    pipe.unpersistAll()
    Main.clearCaches(spark)
    Map("ext.quality_filter_ms" -> qMs, "ext.paragraph_dedup_ms" -> pMs,
      "ext.dedup_pipeline_ms" -> dMs, "ext.chunk_write_ms" -> cMs,
      "ext.candidate_pairs" -> candidates, "ext.confirmed_pairs" -> confirmed,
      "ext.candidate_precision" -> (if (candidates > 0) confirmed / candidates else 0.0),
      "ext.docs_kept_ratio" -> kept / nIn)
  }
}

/** CUR stream: the backlog of small CUR files drained with availableNow
  * through readCurStream -> dedupedEvents (RocksDB state) ->
  * incrementalSync into a fresh warehouse; one drain per operation. */
final class CurStream(spark: SparkSession, spec: JsonNode, tracer: Tracer)
    extends Workload(spark, spec, tracer) {
  private val schema = spark.read.parquet(str("stream_dir")).schema

  /** Warm-up: one drain of a small backlog of the same shape. */
  override def setup(): Unit = drain(str("warmup_stream_dir"), -1).error.foreach(e => sys.error(e))

  override def op(i: Int): Main.Op = drain(str("stream_dir"), i)

  private def drain(src: String, i: Int): Main.Op = {
    val wh = s"$root/stream_wh/$i"
    val loader = loaderAt(wh)
    loader.ensureNamespace()
    var q: StreamingQuery = null
    val (ms, res) = Main.timed(tracer.span("streaming.StreamingSync.drain") {
      val raw = StreamingSync.readCurStream(spark, src, Some(schema))
      val deduped = StreamingSync.dedupedEvents(raw, "line_item_usage_start_date",
        Seq("identity_line_item_id"))
      q = StreamingSync.availableNow(StreamingSync.incrementalSync(deduped, loader, "stream",
        new java.sql.Timestamp(1711929600000L)), s"$root/stream_ckpt/$i").start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    })
    val progress = if (q != null) q.recentProgress.toSeq.filter(_.numInputRows > 0) else Nil
    val answer = res.toOption.map { _ =>
      val norm = loader.table(spark, "stream_normalized")
      Map("costs" -> Main.rowsJson(norm.groupBy(col("service"), year(col("date")), month(col("date")))
        .agg(count(lit(1)), sum(col("cost"))).collect().toSeq),
        "raw_rows" -> loader.table(spark, "raw_stream").count())
    }.orNull
    Files.delete(new File(wh))
    Files.delete(new File(s"$root/stream_ckpt/$i"))
    Main.Op("drain", ms, res.left.toOption, answer,
      Map("batch_ms" -> progress.map(_.batchDuration.toDouble),
        "rows" -> progress.map(_.numInputRows).sum))
  }
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
    ()
  }
}

/** JSON conversion for the output file. */
object Json {
  def cell(v: Any): Any = v match {
    case null => null
    case d: java.sql.Date => d.toLocalDate.toString
    case d: LocalDate => d.toString
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case r: Row => r.toSeq.map(cell)
    case s: scala.collection.Seq[_] => s.map(cell)
    case x => x
  }

  def toJava(v: Any): AnyRef = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case x: AnyRef => x
  }
}

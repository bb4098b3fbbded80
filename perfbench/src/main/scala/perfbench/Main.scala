package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.jobs.NagiosEtlJob
import graft.pipelines.StatusPoints
import graft.sources.Tables

/** One benchmark run in one JVM: set-up, a cold first pass or tick, then
  * warm passes or ticks. Reads the run's config file written
  * by `run.py`, drives only the library's public entry points, and
  * writes a raw result file that `run.py` checks and summarises.
  *
  * Usage: `perfbench.Main <config.json>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    val code = try { new Run(cfg).go(); 0 } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        3
    }
    System.exit(code)
  }
}

final class Run(cfg: JsonNode) {
  private def str(k: String) = cfg.get(k).asText
  private def strs(k: String) = Option(cfg.get(k)).map(_.elements.asScala.map(_.asText).toSeq).getOrElse(Nil)
  private val workload = str("workload")
  private val data = str("data")
  private val work = str("work")
  private val traced = cfg.get("trace").asBoolean
  private val seconds = cfg.get("seconds").asDouble
  private val rng = new scala.util.Random(cfg.get("seed").asLong)

  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  /** Wall-clock time (epoch ms) at which set-up ended; `run.py` times
    * set-up from the moment it started this JVM's process. */
  private var readyAtMs = 0L
  /** Per-layer counters summed per unit (pass or tick), traced units only. */
  private val unitLayers = mutable.LinkedHashMap[Int, mutable.Map[String, Double]]()
  private val extra = mutable.LinkedHashMap[String, Any]()

  private def session(): SparkSession = SparkSession.builder()
    .master(str("master"))
    .config("spark.sql.shuffle.partitions", str("shuffle_partitions"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()

  /** The one set-up of the run, in a fresh JVM: session plus loaded and
    * cached inputs. */
  private def setUp(load: SparkSession => Unit): SparkSession = {
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    load(spark)
    readyAtMs = System.currentTimeMillis()
    spark
  }

  /** Run and time one operation. A traced operation's time includes the
    * tracer's own work (draining the listener bus, digesting the events),
    * so traced and untraced units compare as the tracing overhead. */
  private def op(unit: Int, kind: String, name: String, tr: Option[Tracer])(
      body: Option[Tracer] => Unit): Unit = {
    val t0 = System.nanoTime()
    tr.foreach(_.beginOp())
    val err = try { body(tr); None } catch { case NonFatal(e) => Some(e) }
    tr.foreach { t =>
      val acc = unitLayers.getOrElseUpdate(unit, mutable.Map[String, Double]().withDefaultValue(0.0))
      t.endOp(kind, name).foreach { case (k, v) => acc(k) = acc(k) + v }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    err.foreach(e => System.err.println(
      s"[perfbench] FAILED $kind $name (unit $unit): ${e.getClass.getName}: ${e.getMessage}"))
    ops += Map("unit" -> unit, "kind" -> kind, "name" -> name, "ok" -> err.isEmpty,
      "secs" -> (if (err.isEmpty) secs else null), "traced" -> tr.isDefined,
      "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull)
  }

  private def within[T](tr: Option[Tracer], layer: String, name: String)(body: => T): T =
    tr.map(_.span(layer, name)(body)).getOrElse(body)

  private def addLayer(unit: Int, k: String, v: Double): Unit =
    unitLayers.get(unit).foreach(m => m(k) = m(k) + v)

  def go(): Unit = {
    new File(work).mkdirs()
    workload match {
      case "queries" => queries()
      case "nagios_tick" => ticks()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** Warm units alternate traced/untraced in a traced run, so the run
    * also measures the tracing overhead; unit 0 (cold) is always traced. */
  private def tracerFor(tr: Option[Tracer], unit: Int): Option[Tracer] =
    tr.filter(_ => unit % 2 == 0)

  /** Every unit, traced or not, starts with the listener bus drained of
    * the previous unit's events, outside any timing. */
  private def withTracing[T](spark: SparkSession, tr: Option[Tracer])(body: => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    tr.foreach(_.attach())
    try body finally tr.foreach(_.detach())
  }

  // --- queries ---------------------------------------------------------

  private val tableNames = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  private def queries(): Unit = {
    val names = strs("queries")
    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"queries not in SparkEntry.queries: ${unknown.mkString(",")}")
    val spark = setUp { s =>
      // as graft.Bench does: nanosAsLong before the raw events load is cached
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      tableNames.foreach { t =>
        val df = Tables.loadImmutable(s, data, t)
        df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
      }
    }
    val tr = if (traced) Some(new Tracer(spark, data)) else None
    def pass(p: Int): Unit = withTracing(spark, tracerFor(tr, p)) {
      val t = tracerFor(tr, p)
      rng.shuffle(names).foreach { q =>
        op(p, "query", q, t) { t =>
          val df = within(t, "entry", q)(all(q)(spark, data))
          within(t, "action", q)(df.write.mode("overwrite").format("noop").save())
        }
      }
      if (cfg.path("inject_failure").asBoolean(false))
        op(p, "query", "injected_failure", t) { _ =>
          Thread.sleep(1500)
          throw new IllegalStateException("failure injected by the harness self-test")
        }
    }
    pass(0)
    val minWarm = cfg.get("min_warm").asInt
    val warmStart = System.nanoTime()
    var p = 1
    while (p <= minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) { pass(p); p += 1 }
    finish(spark, tr)
    // output check: graft.Verify dumps each query's result and its oracle
    // SQL for tools/oracle_check.py; it reuses (and then stops) this session
    graft.Verify.main(Array(data, str("verify_out"), names.mkString(",")))
  }

  // --- nagios_tick ----------------------------------------------------

  private val statusSchema = StructType(Seq("host_name", "service_description",
    "current_state", "last_check").map(StructField(_, StringType)))
  private val memberSchema = StructType(Seq("host_name", "service_description")
    .map(StructField(_, StringType)))
  private val detailSchema = StructType(Seq("host_name", "service_description", "display_name")
    .map(StructField(_, StringType)) ++ Seq(
    StructField("customvars_map", MapType(StringType, StringType)),
    StructField("customvars_list", StatusPoints.customvarsListType)))

  private def listFiles(dir: String, keep: Path => Boolean): Set[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) && keep(p)).toSet
      finally s.close()
    }
  }
  private def visible(p: Path): Boolean =
    p.iterator.asScala.forall(n => !n.toString.startsWith("_") && !n.toString.startsWith("."))

  private def ticks(): Unit = {
    val (in, out, ckpt, pointsDir) = (s"$work/in", s"$work/out", s"$work/ckpt", s"$work/points")
    val services = strs("services")
    def committed() = listFiles(s"$out/data", p => visible(Paths.get(out).relativize(p)))
    var members, details: DataFrame = null
    val spark = setUp { s =>
      members = s.read.schema(memberSchema).json(s"$data/members.json").cache()
      details = s.read.schema(detailSchema).json(s"$data/details.json").cache()
      members.count(); details.count()
    }
    val tr = if (traced) Some(new Tracer(spark, data)) else None
    Files.createDirectories(Paths.get(in))
    val sinkFiles, pointFiles = mutable.ArrayBuffer[Seq[String]]()
    var quarantined = 0
    for (k <- 0 until cfg.get("ticks").asInt) withTracing(spark, tracerFor(tr, k)) {
      val t = tracerFor(tr, k)
      new File(f"$data/ticks/$k%03d").listFiles().foreach(f => Files.move(f.toPath,
        Paths.get(in).resolve(f.getName), StandardCopyOption.ATOMIC_MOVE))
      val sinkBefore = committed()
      op(k, "tick", s"tick$k", t) { t =>
        // fully qualified URIs, as an HDFS or object-store deployment passes them:
        // with a scheme-less sink path, the job's committed-file probe compares a
        // qualified file path against the unqualified sink root, so when any
        // ancestor directory of the sink starts with '.' or '_' it takes every
        // committed file for writer scratch and silently turns dedup off
        within(t, "action", "runOnce")(NagiosEtlJob.runOnce(
          spark, s"file:$in", s"file:$out", s"file:$ckpt", services))
      }
      sinkFiles += (committed() -- sinkBefore).toSeq.map(_.toString).sorted
      val q = listFiles(s"$out/quarantine", _ => true).size
      addLayer(k, "sinks.quarantined", (q - quarantined).toDouble)
      quarantined = q
      val pointsBefore = listFiles(pointsDir, _.getFileName.toString.endsWith(".lp"))
      op(k, "push", s"push$k", t) { t =>
        val points = within(t, "entry", "points") {
          val status = spark.read.schema(statusSchema).json(f"$data/status/$k%03d.json")
          StatusPoints.typedPoints(
            StatusPoints.points(status, members, details, "service_status"))(spark)
        }
        val w0 = System.nanoTime()
        within(t, "action", "graft-points") {
          points.write.format("graft-points").mode("append")
            .option("path", pointsDir)
            .option("measurement", "service_status")
            .option("tagCols", "service_description,display_name,friendlyname,crownjewel")
            .option("fieldCols", "service_status,service_status_numeric")
            .option("timeCol", "time")
            .save()
        }
        addLayer(k, "points.write_ms", (System.nanoTime() - w0) / 1e6)
      }
      val newPoints = (listFiles(pointsDir, _.getFileName.toString.endsWith(".lp"))
        -- pointsBefore).toSeq.map(_.toString).sorted
      pointFiles += newPoints
      addLayer(k, "points.files", newPoints.size.toDouble)
      addLayer(k, "points.bytes", newPoints.map(f => Files.size(Paths.get(f))).sum.toDouble)
      addLayer(k, "points.rows", newPoints.map(f => Files.readAllLines(Paths.get(f)).size).sum.toDouble)
    }
    extra("sink_files") = sinkFiles.toSeq
    extra("points_files") = pointFiles.toSeq
    extra("quarantined") = quarantined
    finish(spark, tr)
    spark.stop()
  }

  // --- result -----------------------------------------------------------

  private def finish(spark: SparkSession, tr: Option[Tracer]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    // storage still held once unreferenced blocks are cleaned: without the
    // collection, what the context cleaner has released depends on GC timing
    System.gc()
    Thread.sleep(500)
    val storage = spark.sparkContext.getRDDStorageInfo.filter(_.memSize > 0)
    val memMb = storage.map(_.memSize).sum / 1048576.0
    extra("storage") = storage.map(r => s"${r.name}: ${r.memSize} B").toSeq
    tr.foreach { t =>
      val w = Files.newBufferedWriter(Paths.get(str("spans")))
      try t.spans.sortBy(_.start).foreach { s =>
        w.write(mapper.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
        w.newLine()
      } finally w.close()
      extra("self_ms") = t.selfMs()
    }
    val result = Map(
      "ready_at_ms" -> readyAtMs,
      "ops" -> ops.toSeq,
      "mem_storage_mb" -> memMb,
      "layers" -> unitLayers.map { case (u, m) => u.toString -> m.toMap }.toMap,
      "fingerprint" -> Map(
        "spark" -> spark.version,
        "jdk" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    ) ++ extra
    mapper.writeValue(new File(str("result")), result)
  }
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Benchmark harness: runs one workload's generated op list against graft
  * and writes raw measurements (per-op wall and CPU, spans, Spark jobs,
  * query phases) plus the values to check. `perfbench/run.py` generates the
  * op list from the seed, starts this main, checks the values against
  * DuckDB and turns the measurements into metrics.
  *
  * Usage: perfbench.Main <config.json> <out dir>
  */
object Main {
  private val json = new ObjectMapper()
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val cfg = json.readTree(new File(args(0)))
    val out = new File(args(1))
    out.mkdirs()
    val run = new Run(cfg, out)
    try run.execute()
    finally run.close()
  }

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Writes collected rows with their column classes for the DuckDB check. */
  def writeRows(f: File, schema: StructType, rows: Array[Row]): Unit = {
    val root = json.createObjectNode()
    val cols = root.putArray("cols")
    schema.fields.foreach { c =>
      val cls = c.dataType match {
        case ByteType | ShortType | IntegerType | LongType => "int"
        case FloatType | DoubleType | _: DecimalType => "float"
        case BooleanType => "bool"
        case TimestampType | TimestampNTZType | DateType => "datetime"
        case _ => "object"
      }
      cols.addArray().add(c.name).add(cls)
    }
    val data = root.putArray("rows")
    rows.foreach { r =>
      val a = data.addArray()
      (0 until r.length).foreach { i =>
        r.get(i) match {
          case null => a.addNull()
          case v: java.lang.Long => a.add(v.longValue)
          case v: java.lang.Integer => a.add(v.longValue)
          case v: java.lang.Short => a.add(v.longValue)
          case v: java.lang.Byte => a.add(v.longValue)
          case v: java.lang.Double => a.add(v.toString)
          case v: java.lang.Float => a.add(v.toDouble.toString)
          case v: java.math.BigDecimal => a.add(v.toString)
          case v: java.lang.Boolean => a.add(v.booleanValue)
          case v: java.sql.Timestamp => a.add(v.toLocalDateTime.toString)
          case v: java.time.Instant => a.add(
            java.time.LocalDateTime.ofInstant(v, java.time.ZoneOffset.UTC).toString)
          case v => a.add(v.toString)
        }
      }
    }
    json.writeValue(f, root)
  }

  def writeJson(f: File, n: JsonNode): Unit = json.writeValue(f, n)
  def newObject(): ObjectNode = json.createObjectNode()
}

/** One benchmark run: setup rounds, then the timed loop. */
final class Run(cfg: JsonNode, out: File) {
  private val workload = cfg.get("workload").asText
  private val sfDir = cfg.get("sf_dir").asText
  private val work = new File(cfg.get("work_dir").asText)
  private val fixtures = new File(cfg.get("fixtures_dir").asText)
  private val cpus = cfg.get("cpus").asInt
  private val seconds = cfg.get("seconds").asDouble
  private val traced = cfg.get("trace").asBoolean
  private val ops = cfg.get("ops").elements().asScala.toIndexedSeq
  private val core = cfg.get("core").asInt
  private val wrap = cfg.get("wrap").asBoolean
  private val results = new File(out, "results")
  results.mkdirs()

  private var spark: SparkSession = _
  private val probe = new Probe
  private val rec = Main.newObject()
  private val opRecs = rec.putArray("ops")
  private var seq = 0

  private def session(): SparkSession = {
    val s = graft.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private lazy val workloadImpl: Workload = workload match {
    case "semantic_mix" => new SemanticMix(sfDir, results)
    case "pipeline_heavy" => new PipelineHeavy(sfDir, results)
    case "artifact_ingest_serve" => new ArtifactIngestServe(sfDir, work, results)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  private def fixtureNames(): Set[String] = {
    def list(d: File) = Option(d.listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.contains(".tmp-")).toSet
    list(fixtures) ++ list(new File(fixtures, "idx")).map("idx/" + _)
  }

  def execute(): Unit = {
    // --- setup: several rounds, each a fresh session plus the workload's
    //     warm-up; the first round also carries JVM start-up
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    val fixBefore = fixtureNames()
    val rounds = rec.putArray("setup_rounds_s")
    val nRounds = cfg.get("setup_rounds").asInt
    for (r <- 0 until nRounds) {
      val t0 = if (r == 0) jvmStart else System.currentTimeMillis() / 1e3
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session()
      workloadImpl.setup(spark, r, nRounds, cfg.get("warmup"))
      rounds.add(System.currentTimeMillis() / 1e3 - t0)
    }
    val fixAfterSetup = fixtureNames()
    val fx = rec.putObject("fixtures")
    fx.put("warm_at_start", fixBefore.nonEmpty)
    fx.put("built_setup", (fixAfterSetup -- fixBefore).size)
    rec.put("jit_ms_setup", jitMs)

    // --- the timed loop; a traced run attaches the listeners for it
    if (traced) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val sp = new Spans(traced)
    val gc0 = gcMs
    val jit0 = jitMs
    val cpu0 = Main.cpuSeconds
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    var fixNow = fixAfterSetup
    var builtTimed = 0
    val t0 = System.nanoTime()
    val next = loop("timed", 0, seconds, sp, afterOp = { r =>
      val f = fixtureNames()
      val built = (f -- fixNow).size
      fixNow = f
      builtTimed += built
      r.put("fixtures_built", built)
    })
    val jvm = rec.putObject("jvm")
    jvm.put("wall_s", (System.nanoTime() - t0) / 1e9)
    jvm.put("cpu_s", Main.cpuSeconds - cpu0)
    jvm.put("gc_ms", gcMs - gc0)
    jvm.put("jit_ms", jitMs - jit0)
    jvm.put("heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    fx.put("built_timed", builtTimed)
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 30000L)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
      dumpTrace(sp)
      // without an untraced run to compare with, time the core list
      // untraced once more as the base of the tracing overhead
      if (cfg.get("reference_pass").asBoolean)
        loop("reference", if (wrap) 0 else next, 0.0, new Spans(false), _ => ())
    }

    workloadImpl.finish(spark, rec)
    Main.writeJson(new File(out, "run.json"), rec)
  }

  /** Runs ops from `from` in order (wrapping round the list when the
    * workload allows) until the core list is done and `untilSeconds` have
    * passed, or a non-wrapping list ends. Each op's record carries its wall
    * and process-CPU seconds and the first line of its error if it threw.
    * Returns the next op index. */
  private def loop(phase: String, from: Int, untilSeconds: Double, sp: Spans,
      afterOp: ObjectNode => Unit): Int = {
    val t0 = System.nanoTime()
    var i = from
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((i - from < core || elapsed < untilSeconds) && (wrap || i < ops.size)) {
      val idx = i % ops.size
      val r = opRecs.addObject()
      r.put("seq", seq).put("idx", idx).put("phase", phase)
      spark.sparkContext.setJobGroup(s"op-$seq", s"$workload op $idx", false)
      sp.op = seq
      val c0 = Main.cpuSeconds
      val w0 = sp.now()
      val n0 = System.nanoTime()
      val err =
        try { sp("op") { workloadImpl.run(spark, ops(idx), sp, seq) }; None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse(""))
        }
      r.put("wall_s", (System.nanoTime() - n0) / 1e9)
      r.put("cpu_s", Main.cpuSeconds - c0)
      r.put("t0", w0)
      err.foreach(r.put("error", _))
      spark.sparkContext.clearJobGroup()
      workloadImpl.afterOp(sp)
      afterOp(r)
      seq += 1
      i += 1
    }
    i
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def dumpTrace(spans: Spans): Unit = {
    val sp = rec.putArray("spans")
    spans.spans.foreach(s => sp.addArray().add(s.op).add(s.name).add(s.t0).add(s.t1))
    val cn = rec.putArray("counters")
    spans.counters.foreach { case (o, n, v) => cn.addArray().add(o).add(n).add(v) }
    val jb = rec.putArray("jobs")
    probe.jobList.foreach { j =>
      jb.addArray().add(j.id).add(j.start).add(j.end).add(j.stages).add(j.tasks)
        .add(j.runMs).add(j.cpuNs / 1e6).add(j.gcMs).add(j.inputBytes)
        .add(j.shuffleWrite).add(j.shuffleRead).add(j.spill)
    }
    val qe = rec.putArray("qes")
    probe.qes.asScala.foreach { q =>
      qe.addArray().add(q.optStart).add(q.optEnd).add(q.planStart).add(q.planEnd)
        .add(q.exchanges).add(q.nodes).add(q.filesRead).add(q.filesBytes)
    }
  }

  def close(): Unit = if (spark != null) spark.stop()
}

/** A workload's setup and per-op behaviour. Each setup round starts a
  * fresh session and warms up its own share of the warm-up list. */
trait Workload {
  def setup(spark: SparkSession, round: Int, rounds: Int, warmup: JsonNode): Unit
  def run(spark: SparkSession, op: JsonNode, spans: Spans, seq: Int): Unit
  /** Called after each op, outside its timing. */
  def afterOp(spans: Spans): Unit = ()
  def finish(spark: SparkSession, rec: ObjectNode): Unit = ()
}

object Workload {
  /** Round `round`'s share of the warm-up items: every `rounds`-th one. */
  def share(items: JsonNode, round: Int, rounds: Int): Seq[JsonNode] =
    items.elements().asScala.zipWithIndex.collect {
      case (t, i) if i % rounds == round => t
    }.toSeq
}

/** Dashboard tiles: build the Model, send it over the wire format, compile,
  * collect. The first result of every distinct tile is kept for the check. */
final class SemanticMix(sfDir: String, results: File) extends Workload {
  private val tiles = new Tiles(sfDir)
  private val kept = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  def setup(spark: SparkSession, round: Int, rounds: Int, warmup: JsonNode): Unit =
    Workload.share(warmup, round, rounds).foreach(t => tile(spark, t, new Spans(false)))

  private def tile(spark: SparkSession, t: JsonNode, spans: Spans): DataFrame = {
    val m = spans("model.build") { tiles.build(t) }
    val wire = spans("wire.encode") { graft.wire.WireFormat.toJson(m) }
    spans.count("wire.json_bytes", wire.length)
    val back = spans("wire.decode") { graft.wire.WireFormat.fromJson(wire) }
    val df = spans("compile") { graft.compile.Compiler.run(back, spark) }
    val rows = spans("exec") { df.collect() }
    val id = t.get("id").asText
    if (!kept.contains(id)) kept(id) = (df.schema, rows)
    df
  }

  def run(spark: SparkSession, op: JsonNode, spans: Spans, seq: Int): Unit =
    tile(spark, op, spans)

  override def finish(spark: SparkSession, rec: ObjectNode): Unit =
    kept.foreach { case (id, (schema, rows)) =>
      Main.writeRows(new File(results, s"$id.json"), schema, rows)
    }
}

/** SparkEntry pipeline entries, each run to a `noop` sink and followed by
  * `CacheScope.global.release()`, as `graft.Bench` runs them. The untimed
  * setup run writes each entry's output for the check. */
final class PipelineHeavy(sfDir: String, results: File) extends Workload {
  def setup(spark: SparkSession, round: Int, rounds: Int, warmup: JsonNode): Unit =
    Workload.share(warmup, round, rounds).map(_.get("entry").asText).foreach { name =>
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").parquet(new File(results, name).getAbsolutePath)
      catch { case e: Throwable =>
        val f = new File(results, s"$name.error")
        java.nio.file.Files.writeString(f.toPath, String.valueOf(e.getMessage))
      } finally graft.llm.CacheScope.global.release()
      java.nio.file.Files.writeString(
        new File(results, s"$name.sql").toPath, graft.SparkEntry.oracleSql(name))
    }

  def run(spark: SparkSession, op: JsonNode, spans: Spans, seq: Int): Unit = {
    val name = op.get("entry").asText
    try {
      val df = spans("llm.closure") { graft.SparkEntry.queries(name)(spark, sfDir) }
      spans("exec") { df.write.format("noop").mode("overwrite").save() }
      if (spans.enabled) {
        val info = spark.sparkContext.getRDDStorageInfo
        spans.count("cache.blocks_stored", info.map(_.numCachedPartitions).sum)
        spans.count("cache.bytes_stored", info.map(i => i.memSize + i.diskSize).sum)
      }
    } finally spans("cache.release") { graft.llm.CacheScope.global.release() }
  }
}

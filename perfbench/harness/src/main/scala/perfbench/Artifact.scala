package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.llm.{CacheScope, Embeddings}
import graft.sources.MetricCache

/** Writes beside reads over two artifacts the benchmark owns: a
  * MetricCache of event partials at (user, event type, day) grain and a
  * persisted IVF index of the embeddings. Writes append day slices and
  * vector batches (plus one takedown); reads serve rollups, dense daily
  * series and top-k queries. Every read's rows are kept for the check. */
final class ArtifactIngestServe(sfDir: String, work: File, results: File)
    extends Workload {
  private val dims = Seq("user_id", "event_type")
  private val partials = MetricCache.standardPartials("value")
  private var root: File = _
  private var mcDir: String = _
  private var idxDir: String = _
  private var table: String = _
  private var versions = 0
  private var cells = 0L
  private val dropped = mutable.LinkedHashSet.empty[Long]
  private val kept = mutable.LinkedHashMap.empty[Int, (StructType, Array[Row])]
  private var wrote = false
  private var size = (0L, 0L)

  private def events(spark: SparkSession) = spark.read.parquet(s"$sfDir/events.parquet")
  private def vectors(spark: SparkSession) = spark.read.parquet(s"$sfDir/embeddings.parquet")

  def setup(spark: SparkSession, round: Int, rounds: Int, warmup: JsonNode): Unit = {
    val prev = root
    root = new File(work, s"artifacts_$round")
    org.apache.commons.io.FileUtils.deleteQuietly(root)
    root.mkdirs()
    mcDir = new File(root, "metric_cache_v0").getAbsolutePath
    idxDir = new File(root, "ivf").getAbsolutePath
    table = s"ivf_postings_$round"
    versions = 0
    MetricCache.save(
      events(spark).where(to_date(col("ts")) < lit(warmup.get("first_day").asText).cast("date")),
      dims, "ts", partials, mcDir)
    val first = vectors(spark).where(col("vec_id") < warmup.get("first_vectors").asLong)
    val cents = Embeddings.kmeansFitSqrtK(first, "vec_id", "embedding", iters = 2)
    Embeddings.ivfIndexSave(first, "vec_id", "embedding", cents, table, idxDir)
    CacheScope.global.release()
    cells = spark.read.parquet(s"$idxDir/centroids").count()
    Workload.share(warmup.get("reads"), round, rounds).foreach(read(spark, _, new Spans(false)))
    if (prev != null) org.apache.commons.io.FileUtils.deleteQuietly(prev)
    size = du(root)
  }

  private def isWrite(op: JsonNode) =
    Set("mc_append", "ivf_append", "takedown")(op.get("kind").asText)

  def run(spark: SparkSession, op: JsonNode, spans: Spans, seq: Int): Unit =
    if (isWrite(op)) {
      wrote = true
      spans("sources.write") { write(spark, op) }
    } else {
      val (schema, rows) = spans("sources.read") { read(spark, op, spans) }
      kept(seq) = (schema, rows)
    }

  /** After a traced write: the bytes and files it added to the artifacts
    * (a takedown's new version net of the one it retires). */
  override def afterOp(spans: Spans): Unit =
    if (wrote && spans.enabled) {
      val (b0, f0) = size
      size = du(root)
      spans.count("sources.bytes_written", (size._1 - b0).toDouble)
      spans.count("sources.files_written", (size._2 - f0).toDouble)
      wrote = false
    }

  private def write(spark: SparkSession, op: JsonNode): Unit =
    op.get("kind").asText match {
      case "mc_append" =>
        val slice = events(spark)
          .where(to_date(col("ts")) === lit(op.get("day").asText).cast("date"))
        val kept = if (dropped.isEmpty) slice
          else slice.where(!col("user_id").isin(dropped.toSeq: _*))
        MetricCache.append(kept, dims, "ts", partials, mcDir)
      case "ivf_append" =>
        val batch = vectors(spark).where(
          col("vec_id") >= op.get("lo").asLong && col("vec_id") < op.get("hi").asLong)
        Embeddings.ivfIndexAppend(batch, "vec_id", "embedding", idxDir, table)
      case "takedown" =>
        val users = op.get("users").elements().asScala.map(_.asLong).toSeq
        versions += 1
        val dst = new File(root, s"metric_cache_v$versions").getAbsolutePath
        MetricCache.takedown(spark, mcDir, col("user_id").isin(users: _*), dst)
        val old = mcDir
        mcDir = dst
        dropped ++= users
        org.apache.commons.io.FileUtils.deleteQuietly(new File(old))
    }

  private def read(spark: SparkSession, op: JsonNode, spans: Spans): (StructType, Array[Row]) = {
    val df: DataFrame = op.get("kind").asText match {
      case "rollup" =>
        MetricCache.read(spark, mcDir)
          .where(col(MetricCache.DayCol).between(
            lit(op.get("d0").asText).cast("date"), lit(op.get("d1").asText).cast("date")) &&
            col("user_id").between(op.get("u0").asLong, op.get("u1").asLong))
          .groupBy(col("event_type"))
          .agg(MetricCache.standardMerge.head, MetricCache.standardMerge.tail: _*)
      case "dense" =>
        MetricCache.serveDenseDaily(
          MetricCache.read(spark, mcDir).where(col("user_id") === op.get("user").asLong),
          Seq("user_id"), op.get("d0").asText, op.get("d1").asText)
      case "ivf_query" =>
        val q = vectors(spark).where(
          col("vec_id") >= op.get("q0").asLong && col("vec_id") < op.get("q1").asLong)
        val nprobe = op.get("nprobe").asInt
        Embeddings.ivfTopKIndexed(q, "vec_id", "embedding", idxDir, spark.table(table),
          k = op.get("k").asInt, nprobe = if (nprobe <= 0) cells.toInt else nprobe)
    }
    (df.schema, df.collect())
  }

  private def du(d: File): (Long, Long) = {
    val files = org.apache.commons.io.FileUtils.listFiles(d, null, true).asScala
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
    (files.map(_.length).sum, files.size.toLong)
  }

  override def finish(spark: SparkSession, rec: ObjectNode): Unit = {
    val a = rec.putObject("artifact")
    val (mcBytes, mcFiles) = du(new File(mcDir))
    val (ixBytes, ixFiles) = du(new File(idxDir))
    a.put("stored_bytes", mcBytes + ixBytes)
    a.put("stored_files", mcFiles + ixFiles)
    a.put("cells", cells)
    kept.foreach { case (seq, (schema, rows)) =>
      Main.writeRows(new File(results, s"op$seq.json"), schema, rows)
    }
  }
}

package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.EventStream

/**
 * Streaming corpus ingest: seeded documents arrive as 8 parquet files and
 * `EventStream.ingestSink` drains them one file per micro-batch, with URL
 * dedup, a stage report and compaction every 4 batches. Files after the
 * first plant exact copies, URL refetches and near-duplicates of earlier
 * documents; the check is that exactly the originals survive.
 */
class CorpusIngest(ctx: Ctx) extends Workload {
  private val seed = ctx.seed
  val Files = 8
  val perFile: Int = ctx.scaled(1000, 40)
  // planted per file after the first: exact copies, URL refetches, near-dups
  private val nCopy = perFile / 10
  private val nRefetch = perFile / 20
  private val nNear = perFile / 20
  private val CompactEvery = 4
  private val arrivals = ctx.path("arrivals")
  private var arrivalBytes = 0L
  private var pass = 0
  private var lastCorpus = ""

  val tailQ = 1.0
  val block: Int = 1
  val blockSeconds = 55.0
  val readKinds: Set[String] = Set.empty
  val writeKinds: Set[String] = Set("batch")

  // ---- seeded documents ----------------------------------------------------
  private val Syll = for (c <- "bcdfghjklmnprstvwz"; v <- "aeiou") yield s"$c$v"
  private def word(k: Long): String = {
    val a = (k % Syll.size).toInt; val b = ((k / Syll.size) % Syll.size).toInt
    val c = ((k / Syll.size / Syll.size) % 3).toInt
    Syll(a) + Syll(b) + (if (c == 0) "" else Syll((a + b + c) % Syll.size))
  }
  private def words(id: Long): Array[String] =
    Array.tabulate(40 + Mix.below(seed, id, 801, 40).toInt)(j => word(Mix.below(seed, id * 131 + j, 802, 20000)))
  private def url(id: Long) = s"https://www.site${Mix.below(seed, id, 803, 500)}.example.com/page/$id/"

  /** (doc_id, url, text) rows of arrival file f. */
  private def fileDocs(f: Int): Seq[(Long, String, String)] = {
    val base = f.toLong * perFile
    val planted = if (f == 0) 0 else nCopy + nRefetch + nNear
    // planted docs copy distinct originals of earlier files
    val earlier = (0L until base).filter(id => isOriginal(id))
    val picks = Mix.permutation(seed, f, 804, earlier.size).take(planted).map(earlier(_))
    (0 until perFile).map { j =>
      val id = base + j
      val p = j - (perFile - planted)
      if (p < 0) (id, url(id), words(id).mkString(" ") + ".")
      else {
        val src = picks(p)
        if (p < nCopy) (id, url(id), words(src).mkString(" ") + ".")
        else if (p < nCopy + nRefetch)
          (id, s"HTTPS://site${Mix.below(seed, src, 803, 500)}.example.com/page/$src?utm_source=feed#top",
            words(id).mkString(" ") + ".")
        else {
          val w = words(src).clone()
          Seq(7, 23).foreach(k => w(k % w.length) = word(20000 + Mix.below(seed, id * 7 + k, 805, 5000)))
          (id, url(id), w.mkString(" ") + ".")
        }
      }
    }
  }
  private def isOriginal(id: Long): Boolean = {
    val f = id / perFile
    f == 0 || (id - f * perFile) < perFile - (nCopy + nRefetch + nNear)
  }
  private val originals: Set[Long] = (0L until Files.toLong * perFile).filter(isOriginal).toSet

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("url", StringType), StructField("text", StringType)))

  /** Stages one arrival file per micro-batch, with ascending mtimes so the
    * file source drains them in order. */
  def stage(): Long = {
    new File(arrivals).mkdirs()
    (0 until Files).foreach { f =>
      val tmp = ctx.path(s"staging/f$f")
      val rows = fileDocs(f).map { case (id, u, t) => Row(id, u, t) }
      ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(tmp)
      val part = new File(tmp).listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = new File(arrivals, f"arrival-$f%02d.parquet")
      require(part.renameTo(dst), s"cannot stage $dst")
      dst.setLastModified(1600000000000L + f * 60000L)
    }
    arrivalBytes = Proc.dirBytes(new File(arrivals))
    arrivalBytes
  }

  /** The set-up a pass needs: nothing beyond the staged files. Timed to
    * cover re-listing the arrival files, the stream source's own set-up. */
  def setup(): Unit = require(new File(arrivals).list.length == Files, "arrival files missing")

  def references(): Unit = ()

  private def runPass(tag: String): (Seq[(Long, Double)], String, Seq[String]) = {
    val files = Files
    val root = ctx.path(s"ingest-$tag")
    val corpus = s"$root/corpus"
    val src = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(arrivals)
    val q = EventStream.ingestSink(src, "text", "doc_id", corpus, s"$root/checkpoint",
      urlCol = Some("url"), reportDir = Some(s"$root/report"),
      compactEveryBatches = Some(CompactEvery))
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.durationMs.get("triggerExecution").doubleValue).toSeq
    // the check: exactly the originals survive, each once
    val ids = ctx.spark.read.parquet(corpus).select("doc_id").collect().map(_.getLong(0))
    val want = originals
    val problems = Seq(
      if (ids.length != ids.distinct.length) Some(s"${ids.length - ids.distinct.length} duplicate survivors") else None,
      if (ids.toSet != want) Some(s"${(ids.toSet -- want).size} planted docs survived, " +
        s"${(want -- ids.toSet).size} originals dropped") else None,
      if (batches.size != files) Some(s"${batches.size} micro-batches for $files files") else None).flatten
    (batches, s"$root/report", problems)
  }

  def warmup(): Unit = {
    // two small arrival files take the whole pipeline, compaction included,
    // through JIT and code generation before anything is timed
    val warm = new File(ctx.path("arrivals-warm")); warm.mkdirs()
    (0 until 2).foreach { f =>
      val rows = fileDocs(f).take(60).map { case (id, u, t) => Row(id, u, t) }
      ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(ctx.path(s"staging/w$f"))
      val part = new File(ctx.path(s"staging/w$f")).listFiles.find(_.getName.endsWith(".parquet")).get
      val dst = new File(warm, s"w$f.parquet"); part.renameTo(dst)
      dst.setLastModified(1600000000000L + f * 60000L)
    }
    val root = ctx.path("ingest-warm")
    val src = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(warm.getPath)
    EventStream.ingestSink(src, "text", "doc_id", s"$root/corpus", s"$root/checkpoint",
      urlCol = Some("url"), reportDir = Some(s"$root/report"), compactEveryBatches = Some(1))
      .awaitTermination()
    ctx.tracer.drain()
    ctx.tracer.batches.synchronized(ctx.tracer.batches.clear())
  }

  private val batchMs = mutable.ArrayBuffer.empty[(Long, Double)]
  private var survivorFrac = 0.0

  /** One pass drains all arrival files into a fresh corpus; each
    * micro-batch is reported as one operation. */
  def op(i: Int, t: OpTimer): OpResult = {
    pass += 1
    val (batches, report, problems) = t.call(runPass(s"p$pass"))
    batchMs ++= batches
    val rep = ctx.spark.read.parquet(report)
    val rows = rep.groupBy("stage").agg(sum("rows")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    survivorFrac = rows.getOrElse("minhash_cross_dedup", 0L).toDouble / rows.getOrElse("input", 1L)
    lastCorpus = ctx.path(s"ingest-p$pass/corpus")
    OpResult("batch", t.check(problems.isEmpty), originals.size.toLong, arrivalBytes,
      problems.mkString("; "), parts = batches.map(_._2))
  }

  def diskBytes(): Long = Proc.dirBytes(new File(lastCorpus)) + Proc.dirBytes(new File(lastCorpus + ".side"))
  def liveUserBytes(): Double = arrivalBytes.toDouble * originals.size / (Files * perFile)
  def dataFiles(): Long = Proc.parquetFiles(new File(lastCorpus)) + Proc.parquetFiles(new File(lastCorpus + ".side"))

  override def summary(ops: Seq[OpRecord]): Map[String, (Double, String)] = Map(
    "ingest_docs_per_s" -> (Files * perFile * pass / (ops.map(_.latencyMs).sum / 1e3), "docs/s"),
    "ingest_batch_p50_ms" -> (Stats.median(ops.map(_.latencyMs)), "ms"))

  def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    val prog = ctx.tracer.batches.synchronized(ctx.tracer.batches.toSeq)
      .filter(_.durations.contains("addBatch"))
    def mean(f: BatchProgress => Double) = if (prog.isEmpty) 0.0 else Stats.mean(prog.map(f))
    val compact = batchMs.filter { case (b, _) => (b + 1) % CompactEvery == 0 }.map(_._2)
    val jobs = ops.map(_.agg.jobs).sum.toDouble
    Map(
      "stream.batch_ms" -> mean(_.durations.getOrElse("triggerExecution", 0L).toDouble),
      "stream.add_batch_ms" -> mean(_.durations.getOrElse("addBatch", 0L).toDouble),
      "stream.plan_ms" -> mean(_.durations.getOrElse("queryPlanning", 0L).toDouble),
      "stream.commit_ms" -> mean(p => (p.durations.getOrElse("walCommit", 0L) +
        p.durations.getOrElse("commitOffsets", 0L)).toDouble),
      "stream.compact_batch_ms" -> (if (compact.isEmpty) 0.0 else Stats.mean(compact.toSeq)),
      "ext.jobs_per_batch" -> (if (batchMs.isEmpty) 0.0 else jobs / batchMs.size),
      "ext.survivor_frac" -> survivorFrac)
  }
}

package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      scale: Double, work: String, nproc: Int)

/** What one operation did, as judged by the workload's own check. */
final case class OpResult(kind: String, ok: Boolean, rows: Long = 0L,
                          userBytes: Long = 0L, detail: String = "",
                          parts: Seq[Double] = Nil)

/** Times the two blocking parts of an operation: the engine call and the
  * action that forces its result. The check runs outside both. */
final class OpTimer(tr: Tracer, val op: String) {
  var callNs = 0L
  var execNs = 0L
  private def timed[T](name: String, add: Long => Unit)(b: => T): T = {
    val t0 = System.nanoTime()
    try b finally {
      val t1 = System.nanoTime(); add(t1 - t0); tr.record(op, name, t0, t1)
    }
  }
  def call[T](b: => T): T = timed("engine.call", callNs += _)(b)
  def exec[T](b: => T): T = timed("spark.exec", execNs += _)(b)
  def check(b: => Boolean): Boolean = tr.span(op, "check")(b)
  def latencyNs: Long = callNs + execNs
}

/** Shared handles for a workload. */
final class Ctx(val args: Args, val spark: SparkSession, val tracer: Tracer, val dir: File) {
  def seed: Long = args.seed
  def scaled(n: Int, floor: Int = 1): Int = math.max(floor, math.round(n * args.scale).toInt)
  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/**
 * One workload: seeded inputs, a set-up that can be repeated, expected
 * answers computed without the engine, and an operation script.
 */
trait Workload {
  /** Percentile reported as op_tail_ms (per workload and sample count in
    * perfbench/README.md). */
  def tailQ: Double
  /** Operations run in whole blocks of this many, each block the exact op
    * mix, so every run measures the same mix. */
  def block: Int
  /** Nominal wall time of one block on the reference box (4 cores): a run
    * measures round(seconds / blockSeconds) blocks, at least one, so the
    * operation count depends on --seconds alone. */
  def blockSeconds: Double
  /** Generates and stages the seeded inputs; returns their bytes. */
  def stage(): Long
  /** Builds the live state from the staged inputs (timed, repeated). */
  def setup(): Unit
  /** Expected answers (untimed, after the last set-up). */
  def references(): Unit
  def warmup(): Unit
  def op(i: Int, t: OpTimer): OpResult
  /** Kinds whose latency is a read / a write in the summary line. */
  def readKinds: Set[String]
  def writeKinds: Set[String]
  /** Bytes on disk of the workload's live data, and of the same live user
    * data in its staged form. */
  def diskBytes(): Long
  def liveUserBytes(): Double
  /** Data files of the live state (traced after every operation). */
  def dataFiles(): Long
  /** Workload-specific per-layer metrics (traced run). */
  def layers(ops: Seq[OpRecord]): Map[String, Double]
  /** Workload-specific end-to-end names for the summary line:
    * name -> (value, unit). */
  def summary(ops: Seq[OpRecord]): Map[String, (Double, String)] = Map.empty
}

final case class OpRecord(res: OpResult, latencyMs: Double, callMs: Double,
                          agg: Agg, gcMs: Long, wchar: Long, files: Long,
                          filesWritten: Long)

object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms", "op_mean_ms" -> "ms",
    "write_amp" -> "bytes/byte", "space_amp" -> "bytes/byte", "peak_rss_mb" -> "MB")

  val SetupReps = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("scale", "1.0").toDouble, need("work"),
      m.getOrElse("nproc", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  /** Fixed integer spin, single-threaded and on every core at once: a
    * record-to-record ratio of these separates box speed from code. */
  def calibrate(nproc: Int): (Double, Double) = {
    def spin(iters: Long): Long = {
      var h = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < iters) { h = java.lang.Long.rotateLeft(h * 0xBF58476D1CE4E5B9L, 31) ^ i; i += 1 }
      h
    }
    val sink = new java.util.concurrent.atomic.AtomicLong()
    sink.addAndGet(spin(5000000L))
    def ms(b: => Unit): Double = { val t0 = System.nanoTime(); b; (System.nanoTime() - t0) / 1e6 }
    val st = ms(sink.addAndGet(spin(100000000L)))
    val mt = ms {
      val ts = (0 until nproc).map(_ => new Thread(() => { sink.addAndGet(spin(100000000L)); () }))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    (st, mt)
  }

  def workload(ctx: Ctx): Workload = ctx.args.workload match {
    case "feature_query" => new FeatureQuery(ctx)
    case "feature_edit" => new FeatureEdit(ctx)
    case "spatial_join" => new SpatialJoinWorkload(ctx)
    case "corpus_ingest" => new CorpusIngest(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = parse(argv)
    val loadBefore = Proc.loadavg()
    val (calSt, calMt) = calibrate(args.nproc)
    val dir = new File(args.work, s"${args.workload}-${ProcessHandle.current.pid}")
    Proc.deleteTree(dir)
    dir.mkdirs()
    val conf = Seq(
      "spark.master" -> s"local[${args.nproc}]",
      "spark.sql.shuffle.partitions" -> args.nproc.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> new File(dir, "spark-local").getAbsolutePath,
      "spark.sql.warehouse.dir" -> new File(dir, "spark-warehouse").getAbsolutePath,
      "spark.driver.host" -> "localhost",
      "spark.driver.bindAddress" -> "127.0.0.1")
    val sessionStartMs = System.currentTimeMillis()
    val spark = conf.foldLeft(SparkSession.builder().appName("perfbench"))
      { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - sessionStartMs) / 1e3
    val tracer = new Tracer(spark, args.trace)
    val ctx = new Ctx(args, spark, tracer, dir)
    try {
      val wl = workload(ctx)
      val tStage = System.nanoTime()
      val stagedBytes = wl.stage()
      val stageS = (System.nanoTime() - tStage) / 1e9
      // set-up is repeated and its median reported; the last repetition
      // leaves the state the operations run on
      var wchar0 = 0L
      val setupS = (1 to SetupReps).map { _ =>
        wchar0 = Proc.wchar()
        val t0 = System.nanoTime(); wl.setup(); (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"perfbench: staged in $stageS s, set up in ${setupS.mkString(", ")} s")
      val t1 = System.nanoTime()
      wl.references()
      val t2 = System.nanoTime()
      wl.warmup()
      val refsS = (t2 - t1) / 1e9
      val warmS = (System.nanoTime() - t2) / 1e9
      val setup = sessionS + Stats.median(setupS) + refsS + warmS

      val recs = ArrayBuffer.empty[OpRecord]
      var i = 0
      var prevFiles = if (args.trace) Proc.parquetNames(dir) else Set.empty[String]
      val blocks = math.max(1, math.round(args.seconds / wl.blockSeconds).toInt)
      while (i < blocks * wl.block) {
        val id = s"${Tracer.OpPrefix}$i"
        val gc0 = Tracer.gcMs(); val w0 = Proc.wchar()
        tracer.begin(id)
        val t = new OpTimer(tracer, id)
        val r0 = System.nanoTime()
        val res =
          try wl.op(i, t)
          catch { case e: Exception =>
            System.err.println(s"perfbench: $id failed: $e")
            OpResult("error", ok = false, detail = e.toString)
          }
        tracer.end()
        val agg = tracer.collect(id)
        tracer.record(id, "op." + res.kind, r0, System.nanoTime())
        tracer.opDone(id, res.kind, t.latencyNs / 1e6, agg)
        val (files, written) =
          if (args.trace) {
            val now = Proc.parquetNames(dir)
            val w = (now -- prevFiles).size.toLong
            prevFiles = now
            (wl.dataFiles(), w)
          } else (0L, 0L)
        val rec = OpRecord(res, t.latencyNs / 1e6, t.callNs / 1e6, agg,
          Tracer.gcMs() - gc0, Proc.wchar() - w0, files, written)
        // an operation made of parts (micro-batches) is reported part by
        // part; its Spark work and counters ride the first part
        if (res.parts.isEmpty) recs += rec
        else res.parts.zipWithIndex.foreach { case (ms, k) =>
          recs += (if (k == 0) rec.copy(latencyMs = ms, callMs = ms)
            else OpRecord(res, ms, ms, new Agg, 0L, 0L, files, 0L))
        }
        if (!res.ok) System.err.println(s"perfbench: $id (${res.kind}) wrong: ${res.detail}")
        i += 1
      }
      val wcharRun = Proc.wchar() - wchar0
      val userBytes = stagedBytes + recs.map(_.res.userBytes).sum
      val lat = recs.map(_.latencyMs).toSeq
      // a mixed workload's latencies are multi-modal, and a percentile over
      // all of them jumps between modes from run to run; each kind's
      // percentile, weighted by the kind's fixed share of the mix, does not
      val byKind = recs.groupBy(_.res.kind).values.map(_.map(_.latencyMs).toSeq).toSeq
      def mixPct(q: Double) = byKind.map(l => l.size * Stats.pct(l, q)).sum / lat.size
      val e2e = Map(
        "setup_s" -> setup,
        "op_p50_ms" -> mixPct(0.5),
        "op_tail_ms" -> mixPct(wl.tailQ),
        "op_mean_ms" -> Stats.mean(lat),
        "write_amp" -> wcharRun.toDouble / userBytes,
        "space_amp" -> wl.diskBytes().toDouble / wl.liveUserBytes(),
        "peak_rss_mb" -> Proc.peakRssMb())
      val failed = recs.count(!_.res.ok)
      val loadAfter = Proc.loadavg()

      def kindLat(ks: Set[String]) = recs.filter(r => ks.contains(r.res.kind)).map(_.latencyMs).toSeq
      val reads = kindLat(wl.readKinds)
      val writes = kindLat(wl.writeKinds)
      val named: Seq[(String, (Double, String))] =
        EndToEnd.map { case (n, u) => n -> (e2e(n), u) } ++
        Seq("error_rate" -> (failed.toDouble / recs.size, "failed/attempted")) ++
        (if (reads.isEmpty) Nil else Seq("read_p50_ms" -> (Stats.median(reads), "ms"),
          "read_tail_ms" -> (Stats.pct(reads, wl.tailQ), "ms"))) ++
        (if (writes.isEmpty) Nil else Seq("write_p50_ms" -> (Stats.median(writes), "ms"),
          "write_tail_ms" -> (Stats.pct(writes, wl.tailQ), "ms"))) ++
        wl.summary(recs.toSeq).toSeq
      val summary = Map[String, Any](
        "workload" -> args.workload, "ops" -> recs.size, "tail_percentile" -> wl.tailQ,
        "metrics" -> named.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "setup_reps_s" -> setupS, "session_s" -> sessionS, "stage_s" -> stageS,
        "refs_s" -> refsS, "warmup_s" -> warmS,
        "op_kinds" -> recs.groupBy(_.res.kind).map { case (k, v) =>
          k -> Map("n" -> v.size, "p50_ms" -> Stats.median(v.map(_.latencyMs).toSeq)) })
      val meta = Map[String, Any](
        "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
        "scale" -> args.scale, "nproc" -> args.nproc,
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAfter,
        "calib_st_ms" -> calSt, "calib_mt_ms" -> calMt,
        "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
        "jvm_start_to_session_s" -> (sessionStartMs - jvmStartMs) / 1e3,
        "session_conf" -> conf.toMap)
      println("perfbench meta " + Json.render(meta))
      println("perfbench summary " + Json.render(summary))

      val metrics: Seq[(String, String, Double)] =
        if (!args.trace) EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
        else {
          val l = layerMetrics(wl, recs.toSeq) ++
            EndToEnd.map { case (n, u) => (s"traced.$n", u, e2e(n)) }
          tracer.write(new File(new File(args.work, "traces"),
            s"${args.workload}-seed${args.seed}.jsonl"))
          l
        }
      val out = Map[String, Any](
        "correct" -> (failed == 0), "attempted" -> recs.size, "failed" -> failed,
        "metrics" -> metrics.map { case (n, u, v) => n -> Map("value" -> v, "unit" -> u) }.toMap)
      println(Json.render(out))
    } finally {
      spark.stop()
      Proc.deleteTree(dir)
    }
  }

  /** Per-layer metrics: generic Spark/JVM/IO attribution from the listener
    * aggregates, plus the workload's module probes. */
  def layerMetrics(wl: Workload, recs: Seq[OpRecord]): Seq[(String, String, Double)] = {
    val n = recs.size.toDouble
    val all = new Agg
    recs.foreach(r => all.add(r.agg))
    val writes = recs.filter(r => wl.writeKinds.contains(r.res.kind))
    val wAgg = new Agg
    writes.foreach(r => wAgg.add(r.agg))
    val reads = recs.filter(r => wl.readKinds.contains(r.res.kind))
    val rAgg = new Agg
    reads.foreach(r => rAgg.add(r.agg))
    val wn = math.max(1, writes.size).toDouble
    val latSum = recs.map(_.latencyMs).sum
    def perKind(k: String) = {
      val l = recs.filter(_.res.kind == k).map(_.latencyMs)
      if (l.isEmpty) 0.0 else Stats.mean(l)
    }
    val generic = Seq(
      ("engine.read_call_ms", "ms", {
        val c = recs.filter(_.res.kind.startsWith("read."))
        if (c.isEmpty) 0.0 else Stats.mean(c.map(_.callMs)) }),
      ("engine.insert_ms", "ms", perKind("insert")),
      ("engine.upsert_ms", "ms", perKind("upsert")),
      ("engine.update_ms", "ms", perKind("update")),
      ("engine.delete_ms", "ms", perKind("delete")),
      ("spark.plan_ms", "ms", all.planNs / 1e6 / n),
      ("spark.exec_ms", "ms", all.execNs / 1e6 / n),
      ("spark.jobs_per_op", "count", all.jobs / n),
      ("spark.stages_per_op", "count", all.stages / n),
      ("spark.tasks_per_op", "count", all.tasks / n),
      ("spark.sched_delay_ms_per_op", "ms", all.schedDelayMs / n),
      ("spark.task_ms_per_op", "ms", all.taskRunMs / n),
      ("spark.task_cpu_ms_per_op", "ms", all.taskCpuNs / 1e6 / n),
      ("spark.parallelism", "ratio", if (latSum > 0) all.taskRunMs / latSum else 0.0),
      ("scan.rows_read_per_row_returned", "ratio", {
        val rows = reads.map(_.res.rows).sum
        if (rows > 0) rAgg.inRecords.toDouble / rows else 0.0 }),
      ("scan.bytes_read_per_op", "bytes", all.inBytes / n),
      ("collection.files", "count", Stats.mean(recs.map(_.files.toDouble))),
      ("commit.bytes_written_per_op", "bytes", if (writes.isEmpty) 0.0 else wAgg.outBytes / wn),
      ("commit.files_written_per_op", "count",
        if (writes.isEmpty) 0.0 else writes.map(_.filesWritten).sum / wn),
      ("commit.jobs_per_op", "count", if (writes.isEmpty) 0.0 else wAgg.jobs / wn),
      ("io.wchar_bytes_per_op", "bytes", recs.map(_.wchar).sum / n),
      ("shuffle.write_bytes_per_op", "bytes", all.shuffleWrite / n),
      ("shuffle.read_bytes_per_op", "bytes", all.shuffleRead / n),
      ("spill.bytes_per_op", "bytes", all.spill / n),
      ("jvm.gc_ms_per_op", "ms", recs.map(_.gcMs).sum / n))
    val specific = wl.layers(recs).filterNot(_._1.startsWith("e2e."))
    generic ++ LayerNames.specific.map { case (name, unit) =>
      (name, unit, specific.getOrElse(name, 0.0)) }
  }
}

/** Module metrics only some workloads load; the others report 0. */
object LayerNames {
  val specific: Seq[(String, String)] = Seq(
    "catalog.load_meta_us" -> "us", "catalog.acl_us" -> "us", "query.parse_us" -> "us",
    "core.spatial_join_ms" -> "ms", "core.radius_join_ms" -> "ms",
    "core.knn_join_ms" -> "ms", "core.nearest_join_ms" -> "ms", "core.dbscan_ms" -> "ms",
    "core.jobs_per_knn" -> "count", "core.jobs_per_nearest" -> "count",
    "core.jobs_per_dbscan" -> "count",
    "stream.batch_ms" -> "ms", "stream.add_batch_ms" -> "ms", "stream.plan_ms" -> "ms",
    "stream.commit_ms" -> "ms", "stream.compact_batch_ms" -> "ms",
    "ext.jobs_per_batch" -> "count", "ext.survivor_frac" -> "ratio")
}

package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.GeoDb

/** The write side of a feature collection: 1,000-row inserts (the
  * reference client's chunk size), bulk inserts, upserts by id, updates
  * and deletes by filter, and reads after each write. The op script is
  * replayed on plain driver-side state to give every expected answer. */
object FeatureEdit {
  val Chunk = 1000
  val BulkChunks = 10
  val PageSize = 20

  sealed trait Spec
  final case class Insert(chunk: Int) extends Spec
  final case class Bulk(firstChunk: Int) extends Spec
  final case class Upsert(key: Long) extends Spec
  final case class Update(lo: Long, hi: Long, qty: Int) extends Spec
  final case class Delete(lo: Long, hi: Long) extends Spec
  final case class CountBox(box: Features.Box) extends Spec
  final case class Page(minQty: Int) extends Spec {
    def query: String = s"l_quantity=gte.$minQty&order=src_key.asc&limit=${FeatureEdit.PageSize}"
  }

  /** The kind sequence, repeated: per 20 operations 9 inserts, 1 bulk
    * insert, 2 upserts, 2 updates, 1 delete and 5 reads after writes. It is
    * fixed (only the data each operation touches comes from the seed), so
    * every run's first operations carry the same mix. */
  val Kinds: IndexedSeq[String] = IndexedSeq("insert", "count", "insert", "upsert", "insert",
    "page", "insert", "update", "insert", "count", "insert", "delete", "insert", "upsert",
    "insert", "count", "insert", "update", "bulk", "page")
}

class FeatureEdit(ctx: Ctx) extends Workload {
  import FeatureEdit._

  val n0: Int = ctx.scaled(40000, 600)
  private val chunk = math.max(10, ctx.scaled(Chunk))
  val coll = "edits"
  val owner = "owner"
  private val wh = ctx.path("warehouse")
  private val staged = ctx.path("staged/chunks")
  private val seed = ctx.seed
  private var db: GeoDb = _
  private var initialBytes = 0L
  private val chunkBytes = mutable.Map.empty[Int, Long]

  // replayed state: live rows by src_key with their current quantity and
  // price, and the engine ids of the initial rows
  private val live = mutable.LinkedHashMap.empty[Long, (Int, Double)]
  private var idOfSrc: Map[Long, Long] = Map.empty
  private var maxId = 0L
  private var nextChunk = 0
  private val specs = mutable.ArrayBuffer.empty[Spec]

  val tailQ = 0.75
  val block: Int = Kinds.size
  val blockSeconds = 12.0
  val readKinds: Set[String] = Set("count.bbox", "read.filter_page")
  val writeKinds: Set[String] = Set("insert", "bulk_insert", "upsert", "update", "delete")

  private def chunkPath(c: Int) = s"$staged/chunk=$c"
  private def srcOf(c: Int): Long = n0.toLong + c.toLong * chunk

  /** Stages chunks [from, until) as one partitioned parquet write. */
  private def stageChunks(from: Int, until: Int): Unit = {
    val rows = Features.frame(ctx.spark, seed, srcOf(from), srcOf(until), ctx.args.nproc)
      .withColumn("chunk", ((col("src_key") - n0) / chunk).cast(IntegerType))
    rows.write.mode("append").partitionBy("chunk").parquet(staged)
    (from until until).foreach(c => chunkBytes(c) = Proc.dirBytes(new File(chunkPath(c))))
  }

  def stage(): Long = {
    Features.frame(ctx.spark, seed, 0, n0, ctx.args.nproc).write.parquet(ctx.path("staged/initial"))
    stageChunks(0, 2 * (Kinds.count(_ == "insert") + BulkChunks))
    initialBytes = Proc.dirBytes(new File(ctx.path("staged/initial")))
    initialBytes
  }

  def setup(): Unit = {
    db = new GeoDb(ctx.spark, wh, owner)
    db.createCollection(coll, Features.properties, 4326, force = true)
    db.insertIntoCollection(coll, ctx.spark.read.parquet(ctx.path("staged/initial")))
  }

  def references(): Unit = {
    val ids = db.readCollection(owner, coll).select("id", "src_key").collect()
    require(ids.length == n0, s"collection holds ${ids.length} rows, staged $n0")
    idOfSrc = ids.map(r => r.getLong(1) -> r.getLong(0)).toMap
    require(idOfSrc.size == n0 && idOfSrc.values.toSet == (1L to n0).toSet,
      "initial ingest did not assign ids 1..n exactly once")
    live.clear()
    (0L until n0).foreach { s => val f = Features.row(seed, s); live(s) = (f.qty, f.price) }
    maxId = n0
    (0 until 40).foreach(spec)
  }

  /** Operation i's spec; generated in order because inserts consume
    * staged chunks and upserts pick rows still live at that point. */
  private def spec(i: Int): Spec = {
    while (specs.size <= i) {
      val j = specs.size
      val s = Kinds(j % Kinds.size) match {
        case "insert" => nextChunk += 1; Insert(nextChunk - 1)
        case "bulk" => nextChunk += BulkChunks; Bulk(nextChunk - BulkChunks)
        case "upsert" => Upsert(Mix.h(seed, j, 301))
        case "update" =>
          val lo = 1 + Mix.below(seed, j, 302, (srcOf(nextChunk) / 4) max 1)
          Update(lo, lo + math.max(1, n0 / 400), 51 + Mix.below(seed, j, 303, 49).toInt)
        case "delete" =>
          val lo = 1 + Mix.below(seed, j, 304, (srcOf(nextChunk) / 4) max 1)
          Delete(lo, lo + math.max(1, n0 / 800))
        case "count" => CountBox(Features.box(seed, j, 310, if (j % 3 == 0) 'M' else 'S'))
        case _ => Page(1 + Mix.below(seed, j, 305, 50).toInt)
      }
      specs += s
    }
    specs(i)
  }

  // ---- plain replay -------------------------------------------------------
  private def orderkey(src: Long): Long = src / 4 + 1
  private def upsertKeys(s: Upsert): Seq[Long] = {
    // 1,000 initial rows still live, from a seeded start in id order
    val cands = live.keysIterator.filter(_ < n0).toIndexedSeq
    val start = java.lang.Long.remainderUnsigned(s.key, math.max(1, cands.size).toLong).toInt
    (0 until math.min(chunk, cands.size)).map(k => cands((start + k) % cands.size))
  }
  private def upsertValues(src: Long): (Int, Double) =
    (51 + Mix.below(seed, src, 320, 49).toInt, (Mix.below(seed, src, 321, 10000000) + 1).toDouble / 100)

  private def replay(s: Spec, keys: Seq[Long]): Unit = s match {
    case Insert(c) => addChunk(c)
    case Bulk(c) => (c until c + BulkChunks).foreach(addChunk)
    case _: Upsert => keys.foreach(k => live(k) = upsertValues(k))
    case Update(lo, hi, q) => live.keys.toSeq.foreach { k =>
      val ok = orderkey(k); if (ok >= lo && ok < hi) live(k) = (q, live(k)._2) }
    case Delete(lo, hi) => live.keys.toSeq.foreach { k =>
      val ok = orderkey(k); if (ok >= lo && ok < hi) live.remove(k) }
    case _ =>
  }
  private def addChunk(c: Int): Unit = {
    (srcOf(c) until srcOf(c + 1)).foreach { s => val f = Features.row(seed, s); live(s) = (f.qty, f.price) }
    maxId += chunk
  }

  /** The invariants every write must leave: row count, distinct ids, max id
    * equal to the catalog's maxId and to the replay's, and a property
    * checksum over (src_key, l_quantity, l_extendedprice). */
  private def invariants(): (Boolean, String) = {
    val r = db.readCollection(owner, coll).agg(
      count(lit(1)), countDistinct(col("id")), max(col("id")), sum(col("src_key")),
      sum(col("l_quantity").cast(LongType) * (col("src_key") % 1000 + 1)),
      sum(round(col("l_extendedprice") * 100).cast(LongType))).head()
    val want = (live.size.toLong, live.size.toLong, maxId, live.keys.sum,
      live.map { case (k, (q, _)) => q.toLong * (k % 1000 + 1) }.sum,
      live.values.map(v => math.round(v._2 * 100)).sum)
    val got = (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3), if (r.isNullAt(4)) 0L else r.getLong(4),
      if (r.isNullAt(5)) 0L else r.getLong(5))
    val catalogMax = db.getCollectionInfo(coll).maxId
    if (got != want) (false, s"(count, distinct ids, max id, sums) $got != replay $want")
    else if (catalogMax != maxId) (false, s"catalog maxId $catalogMax != $maxId")
    else (true, "")
  }

  def warmup(): Unit = {
    // one of each write kind plus reads, on a scratch collection so the
    // measured collection starts exactly from its set-up state
    val w = new GeoDb(ctx.spark, wh, owner)
    w.createCollection("warm", Features.properties, 4326, force = true)
    w.insertIntoCollection("warm", ctx.spark.read.parquet(ctx.path("staged/initial")))
    w.insertIntoCollection("warm", ctx.spark.read.parquet(chunkPath(0)))
    w.insertIntoCollection("warm", upsertFrame(Seq(1L, 2L), Seq(1L, 2L)), upsert = true)
    w.updateCollection("warm", Map("l_quantity" -> 60), "l_orderkey=gte.10&l_orderkey=lt.20")
    w.deleteFromCollection("warm", "l_orderkey=gte.20&l_orderkey=lt.25")
    w.countCollectionByBbox("warm", Features.box(seed, -1, 310, 'S').tuple)
    w.getCollection("warm", Page(10).query).collect()
    db.readCollection(owner, coll).agg(count(lit(1)), countDistinct(col("id"))).head()
    w.dropCollection("warm")
  }

  private def upsertFrame(ids: Seq[Long], srcs: Seq[Long]) = {
    val rows = ids.zip(srcs).map { case (id, s) =>
      val (q, p) = upsertValues(s); Row(id, q, p) }
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("id", LongType), StructField("l_quantity", IntegerType),
      StructField("l_extendedprice", DoubleType))))
  }

  private def ensureStaged(c: Int): Unit =
    if (!chunkBytes.contains(c)) stageChunks(chunkBytes.keys.max + 1, c + 1)

  def op(i: Int, t: OpTimer): OpResult = {
    val s = spec(i)
    def write(kind: String, bytes: Long, rows: Long, keys: Seq[Long] = Nil)(body: => Unit): OpResult = {
      t.call(body)
      replay(s, keys)
      val (ok, why) = invariants()
      OpResult(kind, t.check(ok), rows, bytes, why)
    }
    s match {
      case Insert(c) =>
        ensureStaged(c)
        write("insert", chunkBytes(c), chunk) {
          db.insertIntoCollection(coll, ctx.spark.read.parquet(chunkPath(c))) }
      case Bulk(c) =>
        ensureStaged(c + BulkChunks - 1)
        val paths = (c until c + BulkChunks).map(chunkPath)
        write("bulk_insert", (c until c + BulkChunks).map(chunkBytes).sum, BulkChunks * chunk) {
          db.insertIntoCollection(coll, ctx.spark.read.option("basePath", staged).parquet(paths: _*)
            .drop("chunk")) }
      case u: Upsert =>
        val keys = upsertKeys(u)
        val frame = upsertFrame(keys.map(idOfSrc), keys)
        write("upsert", keys.size * 20L, keys.size, keys) {
          db.insertIntoCollection(coll, frame, upsert = true) }
      case Update(lo, hi, q) =>
        write("update", 0L, 0L) {
          db.updateCollection(coll, Map("l_quantity" -> q), s"l_orderkey=gte.$lo&l_orderkey=lt.$hi") }
      case Delete(lo, hi) =>
        write("delete", 0L, 0L) {
          db.deleteFromCollection(coll, s"l_orderkey=gte.$lo&l_orderkey=lt.$hi") }
      case CountBox(b) =>
        val c = t.call(db.countCollectionByBbox(coll, b.tuple))
        val want = live.keysIterator.count(k => b.contains(Features.row(seed, k))).toLong
        OpResult("count.bbox", t.check(c == want), 1L, detail = s"count $c != $want")
      case p: Page =>
        val df = t.call(db.getCollection(coll, p.query))
        val rows = t.exec(df.collect())
        val got = rows.map(r => (r.getAs[Long]("src_key"), r.getAs[Int]("l_quantity"))).toSeq
        val want = live.iterator.filter(_._2._1 >= p.minQty).map(e => (e._1, e._2._1)).toSeq
          .sortBy(_._1).take(PageSize)
        OpResult("read.filter_page", t.check(got == want), rows.length.toLong,
          detail = s"${got.take(3)} != ${want.take(3)}")
    }
  }

  def diskBytes(): Long = Proc.dirBytes(new File(db.catalog.dataDir(owner, coll)))
  def liveUserBytes(): Double = live.size * initialBytes.toDouble / n0
  def dataFiles(): Long = Proc.parquetFiles(new File(db.catalog.dataDir(owner, coll)))
  def layers(ops: Seq[OpRecord]): Map[String, Double] = Map.empty

  override def summary(ops: Seq[OpRecord]): Map[String, (Double, String)] = {
    val w = ops.filter(r => Set("insert", "bulk_insert", "upsert").contains(r.res.kind))
    Map("write_rows_per_s" -> (w.map(_.res.rows).sum / (w.map(_.latencyMs).sum / 1e3), "rows/s"))
  }
}

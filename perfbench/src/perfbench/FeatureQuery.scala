package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

import graft.engine.GeoDb
import graft.query.PostgrestFilter
import Features.{Box, F}

/** The reference's read surface over one indexed collection: bbox pages and
  * counts, PostgREST filter pages, SQL-fragment group-bys, counts, head and
  * extent, a quarter of them issued by a second user holding a grant. */
object FeatureQuery {
  sealed trait Spec { def reader: Boolean }
  final case class BboxPage(box: Box, mode: String, offset: Int, reader: Boolean) extends Spec
  final case class BboxCount(box: Box, mode: String, reader: Boolean) extends Spec
  final case class FilterPage(flag: String, minQty: Int, offset: Int, reader: Boolean) extends Spec {
    def query: String =
      s"l_returnflag=eq.$flag&l_quantity=gte.$minQty&order=l_extendedprice.desc,id.asc" +
        s"&limit=${FeatureQuery.Page}&offset=$offset"
  }
  final case class PgGroup(minPrice: String, reader: Boolean) extends Spec
  final case class CountAll(exact: Boolean, reader: Boolean) extends Spec
  final case class Head(reader: Boolean) extends Spec
  final case class Extent(exact: Boolean, reader: Boolean) extends Spec

  val Page = 20
  val Block = 20 // every block of 20 operations holds the exact mix
  val HotBoxes = 16

  /** Zipf(1.1) over the hot boxes. */
  private val zipfCdf: Array[Double] = {
    val w = (1 to HotBoxes).map(k => 1.0 / math.pow(k, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Box size classes by box-operation index: 14 small (~0.05% of the
    * extent), 5 medium (~2%) and 1 large (~25%) in every 20. */
  private val sizeCycle = "SSMSSSMSSLSSMSSSMSSM"

  /** Box operation k: even k draw from 16 hot boxes (Zipf 1.1, one fixed
    * box per hot rank), odd k are unique boxes. */
  def boxFor(seed: Long, k: Long): Box = {
    val cls = sizeCycle((k % sizeCycle.length).toInt)
    if (k % 2 == 0) {
      val u = Mix.u(seed, k, 211)
      val rank = zipfCdf.indexWhere(_ >= u).max(0)
      Features.box(seed, rank, 500, hotClass(rank))
    } else Features.box(seed, k, 300, cls)
  }
  /** Hot boxes keep the overall size mix: ranks 0-10 small, 11-14 medium,
    * 15 large. */
  private def hotClass(rank: Int): Char = if (rank < 11) 'S' else if (rank < 15) 'M' else 'L'

  /** The kind order within a block is fixed, and so are each operation's
    * mode, user and offset; the seed picks boxes, filters and thresholds. */
  private val slots = Mix.permutation(0L, 0L, 200, Block)

  def spec(seed: Long, i: Long): Spec = {
    val slot = slots((i % Block).toInt)
    val reader = i % 4 == 1
    val boxOp = (i / Block) * 10 + slots.take((i % Block).toInt + 1).count(_ < 10) - 1
    val mode = if ((boxOp / 2) % 2 == 0) "contains" else "intersects"
    val offset = Seq(0, Page, 3 * Page)((i % 3).toInt)
    slot match {
      case s if s < 7 => BboxPage(boxFor(seed, boxOp), mode, offset, reader)
      case s if s < 10 => BboxCount(boxFor(seed, boxOp), mode, reader)
      case s if s < 14 => FilterPage(Features.Flags(Mix.below(seed, i, 204, 3).toInt),
        1 + Mix.below(seed, i, 205, 50).toInt, offset, reader)
      case s if s < 16 => PgGroup(s"${Mix.below(seed, i, 206, 400000)}.005", reader)
      case s if s < 18 => CountAll(s == 16, reader)
      case 18 => Head(reader)
      case _ => Extent((i / Block) % 2 == 0, reader)
    }
  }
}

class FeatureQuery(ctx: Ctx) extends Workload {
  import FeatureQuery._

  val n: Int = ctx.scaled(100000, 1000)
  val coll = "lineitems"
  val owner = "owner"
  private val wh = ctx.path("warehouse")
  private val staged = ctx.path("staged/lineitems")
  private val seed = ctx.seed
  private var db: GeoDb = _
  private var rdb: GeoDb = _
  private var stagedBytes = 0L

  // reference state: staged rows by engine id, and ids by (price desc, id)
  private var byId: Array[F] = _
  private var byPrice: Array[Int] = _
  private var extent: (Double, Double, Double, Double) = _
  private val expected = scala.collection.mutable.Map.empty[Long, Any]

  private val probes = Map(
    "catalog.load_meta_us" -> ArrayBuffer.empty[Double],
    "catalog.acl_us" -> ArrayBuffer.empty[Double],
    "query.parse_us" -> ArrayBuffer.empty[Double])

  val tailQ = 0.8
  val block: Int = Block
  val blockSeconds = 3.3
  val readKinds: Set[String] = Set("read.bbox_page", "read.filter_page", "read.pg_group",
    "read.head", "count.bbox", "count.all", "extent")
  val writeKinds: Set[String] = Set.empty

  def stage(): Long = {
    Features.frame(ctx.spark, seed, 0, n, ctx.args.nproc).write.parquet(staged)
    stagedBytes = Proc.dirBytes(new File(staged))
    stagedBytes
  }

  def setup(): Unit = {
    db = new GeoDb(ctx.spark, wh, owner)
    rdb = new GeoDb(ctx.spark, wh, "reader")
    db.createCollection(coll, Features.properties, 4326, force = true)
    db.insertIntoCollection(coll, ctx.spark.read.parquet(staged))
    db.createIndex(coll, "geometry")
    if (!db.getAccessRights(coll).contains("reader")) db.grantAccessToCollection(coll, "reader")
  }

  def references(): Unit = {
    // the engine assigns ids; map them back to staged rows once, checking
    // that ingest kept every row exactly once with ids 1..n
    val ids = db.readCollection(owner, coll).select("id", "src_key").collect()
    require(ids.length == n, s"collection holds ${ids.length} rows, staged $n")
    byId = new Array[F](n)
    val seen = new Array[Boolean](n)
    ids.foreach { r =>
      val (id, src) = (r.getLong(0), r.getLong(1))
      require(id >= 1 && id <= n && byId((id - 1).toInt) == null, s"bad or repeated id $id")
      require(src >= 0 && src < n && !seen(src.toInt), s"bad or repeated src_key $src")
      seen(src.toInt) = true
      byId((id - 1).toInt) = Features.row(seed, src)
    }
    byPrice = Array.range(0, n).sortBy(j => (-byId(j).price, j))
    extent = (byId.map(_.miny).min, byId.map(_.minx).min, byId.map(_.maxy).max, byId.map(_.maxx).max)
    (0 until 200).foreach(i => expect(i.toLong))
  }

  private def matches(s: String, b: Box, f: F): Boolean =
    if (s == "contains") b.contains(f) else b.intersects(f)

  private def pageOf(ix: Iterator[Int], keep: F => Boolean, offset: Int): Seq[Long] =
    ix.filter(j => keep(byId(j))).slice(offset, offset + Page).map(j => j + 1L).toSeq

  /** The expected answer of operation i, from plain arithmetic over the
    * staged rows. */
  private def expect(i: Long): Any = expected.getOrElseUpdate(i, spec(seed, i) match {
    case BboxPage(b, m, off, _) => pageOf(Iterator.range(0, n), matches(m, b, _), off)
    case BboxCount(b, m, _) => byId.count(matches(m, b, _)).toLong
    case q: FilterPage =>
      pageOf(byPrice.iterator, f => f.flag == q.flag && f.qty >= q.minQty, q.offset)
    case PgGroup(p, _) =>
      val lo = p.toDouble
      byId.filter(_.price > lo).groupBy(_.flag).toSeq.sortBy(_._1)
        .map { case (fl, fs) => (fl, fs.length.toLong, fs.map(_.qty.toLong).sum) }
    case _: CountAll => n.toLong
    case _: Head => (1L to 10L).toSeq
    case _: Extent => extent
  })

  private var warming = false

  def warmup(): Unit = {
    warming = true
    (0 until Block).foreach { j =>
      val r = op(1000000 + j, new OpTimer(ctx.tracer, "warmup"))
      require(r.ok, s"warm-up operation failed: ${r.detail}")
    }
    warming = false
  }

  private def checkRows(rows: Array[Row], want: Seq[Long]): (Boolean, String) = {
    val got = rows.map(_.getAs[Long]("id")).toSeq
    if (got != want) (false, s"ids ${got.take(5)}.. (${got.size}) != ${want.take(5)}.. (${want.size})")
    else rows.find { r =>
      val f = byId((r.getAs[Long]("id") - 1).toInt)
      r.getAs[Long]("src_key") != f.src || r.getAs[Int]("l_quantity") != f.qty ||
        r.getAs[Double]("l_extendedprice") != f.price
    } match {
      case Some(r) => (false, s"row ${r.getAs[Long]("id")} carries wrong properties")
      case None => (true, "")
    }
  }

  def op(i: Int, t: OpTimer): OpResult = {
    val s = spec(seed, i)
    val g = if (s.reader) rdb else db
    val d = Some(owner)
    val want = expect(i)
    def res(kind: String, ok: Boolean, rows: Long, detail: => String) =
      OpResult(kind, ok, rows, detail = if (ok) "" else detail)
    val out = s match {
      case BboxPage(b, m, off, _) =>
        val df = t.call(g.getCollectionByBbox(coll, b.tuple, m, database = d,
          limit = Some(Page), offset = Some(off)))
        val rows = t.exec(df.collect())
        val (ok, why) = checkRows(rows, want.asInstanceOf[Seq[Long]])
        res("read.bbox_page", t.check(ok), rows.length, why)
      case BboxCount(b, m, _) =>
        val c = t.call(g.countCollectionByBbox(coll, b.tuple, m, database = d))
        res("count.bbox", t.check(c == want), 1, s"count $c != $want")
      case q: FilterPage =>
        val df = t.call(g.getCollection(coll, q.query, database = d))
        val rows = t.exec(df.collect())
        val (ok, why) = checkRows(rows, want.asInstanceOf[Seq[Long]])
        res("read.filter_page", t.check(ok), rows.length, why)
      case PgGroup(p, _) =>
        val df = t.call(g.getCollectionPg(coll,
          select = "l_returnflag, count(*) AS n, sum(l_quantity) AS q",
          where = Some(s"l_extendedprice > $p"), group = Some("l_returnflag"),
          order = Some("l_returnflag"), database = d))
        val rows = t.exec(df.collect())
        val got = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        res("read.pg_group", t.check(got == want), rows.length, s"$got != $want")
      case CountAll(exact, _) =>
        val c = t.call(g.countCollection(coll, exact, d))
        res("count.all", t.check(c == want), 1, s"count $c != $want")
      case _: Head =>
        val df = t.call(g.headCollection(coll, 10, d))
        val rows = t.exec(df.collect())
        val (ok, why) = checkRows(rows, want.asInstanceOf[Seq[Long]])
        res("read.head", t.check(ok), rows.length, why)
      case Extent(exact, _) =>
        val e = t.call(g.getCollectionBbox(coll, exact, d))
        res("extent", t.check(e.contains(want)), 1, s"$e != $want")
    }
    if (ctx.args.trace && !warming) probe(s, g)
    out
  }

  /** Traced run only: the benchmark's own calls into the catalog, ACL and
    * query-parser entry points an operation goes through. */
  private def probe(s: Spec, g: GeoDb): Unit = {
    def us(b: => Any): Double = { val t0 = System.nanoTime(); b; (System.nanoTime() - t0) / 1e3 }
    probes("catalog.load_meta_us") += us(g.catalog.loadMeta(owner, coll))
    probes("catalog.acl_us") += us(rdb.userAllowed(owner, coll))
    s match {
      case q: FilterPage => probes("query.parse_us") += us(PostgrestFilter.parse(q.query))
      case _ =>
    }
  }

  def diskBytes(): Long = Proc.dirBytes(new File(db.catalog.dataDir(owner, coll)))
  def liveUserBytes(): Double = stagedBytes.toDouble
  def dataFiles(): Long = Proc.parquetFiles(new File(db.catalog.dataDir(owner, coll)))

  def layers(ops: Seq[OpRecord]): Map[String, Double] =
    probes.collect { case (k, v) if v.nonEmpty => k -> Stats.mean(v.toSeq) }
}

package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{DistanceJoin, GeoCluster}
import graft.engine.GeoDb

/**
 * One pass of the analytics script over three collections: the engine's
 * spatial join (pois x zones), a planar radius join, a kNN join, a nearest
 * join (sites vs pois) and geo-DBSCAN over a subset of the pois. Each join
 * is forced with the full-row checksum `bit_xor(xxhash64(struct(*)))`; the
 * same aggregate gathers a seeded subsample of output pairs, which the
 * check compares with brute force over the staged inputs.
 */
class SpatialJoinWorkload(ctx: Ctx) extends Workload {
  private val seed = ctx.seed
  val nPois: Int = ctx.scaled(20000, 1000)
  val nZones: Int = ctx.scaled(2000, 100)
  val nSites: Int = ctx.scaled(400, 40)
  val nDbscan: Int = ctx.scaled(4000, 400)
  private val owner = "owner"
  private val wh = ctx.path("warehouse")
  private var db: GeoDb = _

  // extent: lon [0, 10), lat [40, 48); coordinates on a 1e-6 degree lattice.
  // The hot areas are a fixed map; the seed draws the points around them.
  private val Hot = 12
  private def hot(h: Int): (Double, Double) =
    (0.5 + 9.0 * Mix.u(0L, h, 701), 40.5 + 7.0 * Mix.u(0L, h, 702))
  private def lattice(v: Double): Double = math.rint(v * 1e6) / 1e6
  private def place(i: Long, salt: Int, spread: Double): (Double, Double) =
    if (Mix.u(seed, i, salt) < 0.5) (10.0 * Mix.u(seed, i, salt + 1), 40.0 + 8.0 * Mix.u(seed, i, salt + 2))
    else {
      val (cx, cy) = hot(Mix.below(seed, i, salt + 3, Hot).toInt)
      (cx + (Mix.u(seed, i, salt + 4) + Mix.u(seed, i, salt + 5) - 1.0) * spread,
       cy + (Mix.u(seed, i, salt + 6) + Mix.u(seed, i, salt + 7) - 1.0) * spread)
    }
  private def clampLon(v: Double) = lattice(math.min(9.999, math.max(0.0, v)))
  private def clampLat(v: Double) = lattice(math.min(47.999, math.max(40.0, v)))

  lazy val pois: Array[(Double, Double)] = Array.tabulate(nPois) { i =>
    val (x, y) = place(i, 710, 0.3); (clampLon(x), clampLat(y)) }
  lazy val sites: Array[(Double, Double)] = Array.tabulate(nSites) { i =>
    val (x, y) = place(i, 720, 0.5); (clampLon(x), clampLat(y)) }
  /** Zone envelopes (minx, miny, maxx, maxy), 0.02 to 0.2 degrees a side. */
  lazy val zones: Array[(Double, Double, Double, Double)] = Array.tabulate(nZones) { i =>
    val (x, y) = place(i, 730, 0.4)
    val (w, h) = (0.02 + 0.18 * Mix.u(seed, i, 740), 0.02 + 0.18 * Mix.u(seed, i, 741))
    (clampLon(x), clampLat(y), clampLon(x + w), clampLat(y + h))
  }

  private val Radius = 0.0200005
  // first search radius: about the distance holding k pois at mean density
  private def startRadius(k: Int) = math.sqrt(k / (math.Pi * nPois / 80.0))
  private val K = 8
  private val EpsMeters = 1500.0
  private val MinPts = 8
  private val SampleMod = 97L

  val tailQ = 1.0
  val block: Int = 1
  val blockSeconds = 7.0
  val readKinds: Set[String] = Set.empty
  val writeKinds: Set[String] = Set.empty

  private def wktPoint(p: (Double, Double)) = s"POINT (${p._1} ${p._2})"
  private def wktBox(z: (Double, Double, Double, Double)) =
    s"POLYGON ((${z._1} ${z._2}, ${z._3} ${z._2}, ${z._3} ${z._4}, ${z._1} ${z._4}, ${z._1} ${z._2}))"

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.args.nproc), schema)

  private val geomSchema = StructType(Seq(StructField("src_key", LongType), StructField("geometry", StringType)))

  def stage(): Long = {
    val st = ctx.path("staged")
    frame(pois.indices.map(i => Row(i.toLong, wktPoint(pois(i)))), geomSchema).write.parquet(s"$st/pois")
    frame(zones.indices.map(i => Row(i.toLong, wktBox(zones(i)))), geomSchema).write.parquet(s"$st/zones")
    frame(sites.indices.map(i => Row(i.toLong, wktPoint(sites(i)))), geomSchema).write.parquet(s"$st/sites")
    frame(pois.indices.map(i => Row(i.toLong, pois(i)._1, pois(i)._2)), StructType(Seq(
      StructField("pid", LongType), StructField("px", DoubleType), StructField("py", DoubleType))))
      .write.parquet(s"$st/pois_xy")
    frame(sites.indices.map(i => Row(i.toLong, sites(i)._1, sites(i)._2)), StructType(Seq(
      StructField("sid", LongType), StructField("sx", DoubleType), StructField("sy", DoubleType))))
      .write.parquet(s"$st/sites_xy")
    Proc.dirBytes(new File(st))
  }

  def setup(): Unit = {
    db = new GeoDb(ctx.spark, wh, owner)
    Seq("pois", "zones", "sites").foreach { c =>
      db.createCollection(c, Seq("src_key" -> "bigint"), 4326, force = true)
      db.insertIntoCollection(c, ctx.spark.read.parquet(ctx.path(s"staged/$c")))
    }
  }

  private def poisXy = ctx.spark.read.parquet(ctx.path("staged/pois_xy"))
  private def sitesXy = ctx.spark.read.parquet(ctx.path("staged/sites_xy"))

  // ---- brute-force references for the sampled left rows -------------------
  private def sampled(i: Long) = i % SampleMod == seed.abs % SampleMod
  private val expected = mutable.Map.empty[String, Any]

  private def dist2(a: (Double, Double), b: (Double, Double)) = {
    val dx = a._1 - b._1; val dy = a._2 - b._2; dx * dx + dy * dy
  }
  /** The engine's haversine, term for term. */
  private def haversine(a: (Double, Double), b: (Double, Double)): Double = {
    val dphi = math.toRadians(a._2) - math.toRadians(b._2)
    val dlam = math.toRadians(a._1) - math.toRadians(b._1)
    val hav = math.pow(math.sin(dphi / 2), 2) +
      math.cos(math.toRadians(a._2)) * math.cos(math.toRadians(b._2)) * math.pow(math.sin(dlam / 2), 2)
    2.0 * DistanceJoin.EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(hav)))
  }

  def references(): Unit = {
    val sp = pois.indices.filter(i => sampled(i))
    expected("spatial_join") = sp.map { i =>
      val (x, y) = pois(i)
      i.toLong -> zones.indices.filter { z =>
        val e = zones(z); e._1 <= x && x <= e._3 && e._2 <= y && y <= e._4 }.map(_.toLong).toSet
    }.toMap
    val ss = sites.indices.filter(i => sampled(i))
    val near = ss.map { s =>
      s.toLong -> pois.indices.map(p => (dist2(sites(s), pois(p)), p.toLong)).sorted.take(K) }.toMap
    expected("knn_join") = near.map { case (s, l) => s -> l.map(_._2) }
    expected("nearest_join") = near.map { case (s, l) => s -> l.head._2 }
    expected("radius_join") = ss.map { s =>
      s.toLong -> pois.indices.filter(p => dist2(sites(s), pois(p)) <= Radius * Radius)
        .map(_.toLong).toSet }.toMap
  }

  /** Forces `df` with the checksum and gathers (left key, right key) pairs
    * of the sampled left rows in the same aggregate. */
  private def force(df: DataFrame, left: String, right: String): (Long, Long, Seq[(Long, Long)]) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))),
      collect_list(when(col(left) % SampleMod === seed.abs % SampleMod,
        struct(col(left), col(right))))).head()
    (r.getLong(0), r.getLong(1), r.getSeq[Row](2).map(x => (x.getLong(0), x.getLong(1))))
  }

  private val checksums = mutable.Map.empty[String, (Long, Long)]
  private val opMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val opJobs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** Runs one analytics op as a span of the pass; returns its problems. */
  private def step(t: OpTimer, name: String)(run: => Seq[String]): Seq[String] = {
    val jobs0 = if (ctx.args.trace) ctx.tracer.jobsSoFar(t.op) else 0L
    val (c0, e0) = (t.callNs, t.execNs)
    val bad = ctx.tracer.span(t.op, s"core.$name")(run)
    val ms = (t.callNs + t.execNs - c0 - e0) / 1e6
    opMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
    if (ctx.args.trace)
      opJobs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
        (ctx.tracer.jobsSoFar(t.op) - jobs0).toDouble
    bad
  }

  private def samePairs(name: String, got: Seq[(Long, Long)], want: Map[Long, Set[Long]]): Seq[String] = {
    val g = got.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val bad = want.collect { case (k, w) if g.getOrElse(k, Set.empty) != w => k }
    if (bad.isEmpty && g.keySet.subsetOf(want.keySet)) Nil
    else Seq(s"$name: ${bad.size} sampled left rows differ from brute force (e.g. ${bad.take(3)})")
  }

  private def stable(name: String, n: Long, sum: Long): Seq[String] =
    checksums.get(name) match {
      case Some(prev) if prev != ((n, sum)) => Seq(s"$name: checksum changed between passes")
      case _ => checksums(name) = (n, sum); Nil
    }

  /** One pass of the script; the op is the pass. */
  def op(i: Int, t: OpTimer): OpResult = {
    val problems = mutable.ArrayBuffer.empty[String]
    def timedForce(df: => DataFrame, l: String, r: String) = {
      val d = t.call(df)
      t.exec(force(d, l, r))
    }
    problems ++= step(t, "spatial_join") {
      val (n, s, pairs) = timedForce(db.spatialJoinCollections("pois", "zones", "intersects", 0.2),
        "a_src_key", "b_src_key")
      samePairs("spatial_join", pairs,
        expected("spatial_join").asInstanceOf[Map[Long, Set[Long]]]) ++ stable("spatial_join", n, s)
    }
    problems ++= step(t, "radius_join") {
      val (n, s, pairs) = timedForce(DistanceJoin.radiusJoin(sitesXy, poisXy, "sx", "sy", "px", "py",
        Radius), "sid", "pid")
      samePairs("radius_join", pairs, expected("radius_join").asInstanceOf[Map[Long, Set[Long]]]) ++
        stable("radius_join", n, s)
    }
    problems ++= step(t, "knn_join") {
      val (n, s, pairs) = timedForce(DistanceJoin.knnJoin(sitesXy, poisXy, "sx", "sy", "px", "py",
        "pid", K, startRadius = startRadius(K), maxRadius = 6 * startRadius(K), lIdCol = Some("sid")), "sid", "pid")
      val want = expected("knn_join").asInstanceOf[Map[Long, Seq[Long]]].map { case (k, v) => k -> v.toSet }
      samePairs("knn_join", pairs, want) ++ stable("knn_join", n, s)
    }
    problems ++= step(t, "nearest_join") {
      val (n, s, pairs) = timedForce(DistanceJoin.nearestJoin(sitesXy, poisXy, "sx", "sy", "px", "py",
        "pid", startRadius = startRadius(1), maxRadius = 6 * startRadius(K), lIdCol = Some("sid")), "sid", "pid")
      val want = expected("nearest_join").asInstanceOf[Map[Long, Long]].map { case (k, v) => k -> Set(v) }
      samePairs("nearest_join", pairs, want) ++ stable("nearest_join", n, s) ++
        (if (n == nSites) Nil else Seq(s"nearest_join: $n rows for $nSites sites"))
    }
    problems ++= step(t, "dbscan") { dbscan(t) }
    OpResult("pass", t.check(problems.isEmpty), 0L, detail = problems.mkString("; "))
  }

  /** DBSCAN invariants on a sample, by brute force over the staged points:
    * a point is core iff its eps-neighbourhood (itself included) holds at
    * least minPts points; core neighbours share a cluster; a border point
    * takes the smallest cluster among its core neighbours; noise has none. */
  private def dbscan(t: OpTimer): Seq[String] = {
    val pts = poisXy.filter(col("pid") < nDbscan)
      .select(col("pid"), col("py").as("lat"), col("px").as("lon"))
    val df = t.call(GeoCluster.geoDbscan(pts, "pid", "lat", "lon", EpsMeters, MinPts))
    val r = t.exec(df.agg(count(lit(1)), bit_xor(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*))),
      collect_list(struct(col("pid"), col("is_core"), col("cluster")))).head())
    val labels = r.getSeq[Row](2).map(x =>
      x.getLong(0) -> (x.getBoolean(1), if (x.isNullAt(2)) None else Some(x.getLong(2)))).toMap
    val bad = mutable.ArrayBuffer.empty[String]
    if (labels.size != nDbscan) bad += s"dbscan: ${labels.size} labels for $nDbscan points"
    for (p <- 0 until nDbscan if sampled(p) && labels.contains(p)) {
      val d = (0 until nDbscan).map(q => q -> haversine(pois(p), pois(q)))
      if (!d.exists { case (_, m) => math.abs(m - EpsMeters) < 1e-6 }) {
        val nb = d.collect { case (q, m) if m <= EpsMeters => q.toLong }
        val (core, cl) = labels(p.toLong)
        val coreNb = nb.filter(q => labels.get(q).exists(_._1))
        if (core != (nb.size >= MinPts)) bad += s"dbscan: point $p core=$core with ${nb.size} neighbours"
        else if (core && coreNb.exists(q => labels(q)._2 != cl))
          bad += s"dbscan: core point $p and a core neighbour differ in cluster"
        else if (!core && cl != coreNb.flatMap(q => labels(q)._2).minOption)
          bad += s"dbscan: border/noise point $p has cluster $cl"
      }
    }
    bad.toSeq ++ stable("dbscan", r.getLong(0), r.getLong(1))
  }

  def warmup(): Unit = {
    val t = new OpTimer(ctx.tracer, "warmup")
    val r = op(-1, t)
    require(r.ok, s"warm-up pass failed: ${r.detail}")
    opMs.clear(); opJobs.clear()
  }

  def diskBytes(): Long = Proc.dirBytes(new File(wh, "data"))
  def liveUserBytes(): Double = Proc.dirBytes(new File(ctx.path("staged"))).toDouble -
    Proc.dirBytes(new File(ctx.path("staged/pois_xy"))) - Proc.dirBytes(new File(ctx.path("staged/sites_xy")))
  def dataFiles(): Long = Proc.parquetFiles(new File(wh, "data"))

  override def summary(ops: Seq[OpRecord]): Map[String, (Double, String)] =
    Map("analytics_wall_s" -> (Stats.median(ops.map(_.latencyMs)) / 1e3, "s"))

  def layers(ops: Seq[OpRecord]): Map[String, Double] =
    opMs.map { case (k, v) => s"core.${k}_ms" -> Stats.mean(v.toSeq) }.toMap ++
      Seq("knn_join" -> "knn", "nearest_join" -> "nearest", "dbscan" -> "dbscan").collect {
        case (k, short) if opJobs.contains(k) => s"core.jobs_per_$short" -> Stats.mean(opJobs(k).toSeq)
      }
}

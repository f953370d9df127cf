package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Seeded lineitem-shaped feature rows: 3/4 points and 1/4 small envelopes
 * in EPSG:4326, half of them around 24 fixed "cities" and half
 * uniform over the extent. Coordinates are whole multiples of 1e-6 degrees,
 * and query boxes sit on odd multiples of 5e-7, so no vertex ever lies on a
 * box edge: containment and intersection reduce to strict comparisons.
 */
object Features {
  val X0 = -10.0
  val Y0 = 35.0
  val W = 40.0
  val H = 25.0
  val Q = 1000000L // quanta per degree
  val Cities = 24

  final case class F(src: Long, minx: Double, miny: Double, maxx: Double, maxy: Double,
                     point: Boolean, orderkey: Long, qty: Int, price: Double,
                     flag: String, shipDays: Int)

  val Flags: Array[String] = Array("A", "N", "R")

  private def coord(q: Long, origin: Double): Double = (q + (origin * Q).toLong).toDouble / Q

  /** City centres are a fixed map (fractions of the extent); the seed
    * draws the rows and query boxes around them. */
  def city(c: Int): (Double, Double) =
    (0.05 + 0.9 * Mix.u(0L, c, 101), 0.05 + 0.9 * Mix.u(0L, c, 102))

  def row(seed: Long, i: Long): F = {
    val point = i % 4 != 3
    val (fx, fy) =
      if (Mix.u(seed, i, 1) < 0.5) (Mix.u(seed, i, 2), Mix.u(seed, i, 3))
      else {
        val (cx, cy) = city(Mix.below(seed, i, 4, Cities).toInt)
        // sum of two uniforms: a peaked spread of about +-1.2 degrees
        (cx + (Mix.u(seed, i, 5) + Mix.u(seed, i, 6) - 1.0) * 0.03,
         cy + (Mix.u(seed, i, 7) + Mix.u(seed, i, 8) - 1.0) * 0.05)
      }
    val qx = math.min((W * Q).toLong - 3000, math.max(0L, (fx * W * Q).toLong))
    val qy = math.min((H * Q).toLong - 3000, math.max(0L, (fy * H * Q).toLong))
    val (wq, hq) = if (point) (0L, 0L)
      else (100 + Mix.below(seed, i, 9, 1900), 100 + Mix.below(seed, i, 10, 1900))
    val qty = 1 + Mix.below(seed, i, 11, 50).toInt
    val unitCents = 90000 + Mix.below(seed, i, 12, 10000000)
    F(i, coord(qx, X0), coord(qy, Y0), coord(qx + wq, X0), coord(qy + hq, Y0), point,
      i / 4 + 1, qty, (qty * unitCents).toDouble / 100, Flags(Mix.below(seed, i, 13, 3).toInt),
      Mix.below(seed, i, 14, 2500).toInt)
  }

  def wkt(f: F): String =
    if (f.point) s"POINT (${f.minx} ${f.miny})"
    else s"POLYGON ((${f.minx} ${f.miny}, ${f.maxx} ${f.miny}, ${f.maxx} ${f.maxy}, " +
      s"${f.minx} ${f.maxy}, ${f.minx} ${f.miny}))"

  val properties: Seq[(String, String)] = Seq(
    "src_key" -> "bigint", "l_orderkey" -> "bigint", "l_quantity" -> "integer",
    "l_extendedprice" -> "double", "l_returnflag" -> "text", "l_shipdate" -> "date")

  val schema: StructType = StructType(Seq(
    StructField("src_key", LongType, nullable = false),
    StructField("l_orderkey", LongType), StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", DoubleType), StructField("l_returnflag", StringType),
    StructField("l_shipdate", DateType), StructField("geometry", StringType)))

  private val epochDay0 = java.time.LocalDate.of(1992, 1, 1).toEpochDay

  def toRow(f: F): Row = Row(f.src, f.orderkey, f.qty, f.price, f.flag,
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay0 + f.shipDays)), wkt(f))

  /** Rows [from, until) as a frame computed on the executors. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
    val rdd = spark.sparkContext.range(from, until, 1, parts).map(i => toRow(row(seed, i)))
    spark.createDataFrame(rdd, schema)
  }

  /** A query rectangle; edges on odd multiples of half a quantum. */
  final case class Box(minx: Double, miny: Double, maxx: Double, maxy: Double) {
    def tuple: (Double, Double, Double, Double) = (minx, miny, maxx, maxy)
    def contains(f: F): Boolean =
      minx < f.minx && f.maxx < maxx && miny < f.miny && f.maxy < maxy
    def intersects(f: F): Boolean =
      f.minx < maxx && minx < f.maxx && f.miny < maxy && miny < f.maxy
  }

  /** A box of size class S (~0.05% of the extent's area), M (~2%) or L
    * (~25%); even keys centre on a city, odd keys anywhere. */
  def box(seed: Long, k: Long, salt: Int, cls: Char): Box = {
    val side = cls match { case 'S' => 0.02236; case 'M' => 0.1414; case _ => 0.5 }
    val (fx, fy) =
      if (k % 2 == 0) city(Mix.below(seed, k, salt + 2, Cities).toInt)
      else (Mix.u(seed, k, salt + 3), Mix.u(seed, k, salt + 4))
    def edge(f: Double, span: Double, origin: Double): Double = {
      val half = math.floor(math.min(1.0, math.max(0.0, f)) * span * Q * 2).toLong | 1L
      (half + (origin * Q * 2).toLong).toDouble / (2 * Q)
    }
    val h = side / 2
    Box(edge(fx - h, W, X0), edge(fy - h, H, Y0), edge(fx + h, W, X0), edge(fy + h, H, Y0))
  }
}

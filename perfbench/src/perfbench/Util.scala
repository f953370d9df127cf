package perfbench

import java.io.File
import java.nio.file.Files

/** Process and filesystem readings. */
object Proc {
  private def procLines(f: String): Seq[String] =
    try Files.readAllLines(new File(f).toPath).toArray.map(_.toString).toSeq
    catch { case _: java.io.IOException => Seq.empty }

  /** Bytes this process passed to write(2) so far (all threads). */
  def wchar(): Long = procLines("/proc/self/io").collectFirst {
    case l if l.startsWith("wchar:") => l.split("\\s+")(1).toLong
  }.getOrElse(0L)

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb(): Double = procLines("/proc/self/status").collectFirst {
    case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(0.0)

  def loadavg(): Seq[Double] =
    procLines("/proc/loadavg").headOption.map(_.split("\\s+").take(3).map(_.toDouble).toSeq)
      .getOrElse(Seq.empty)

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Data files (parquet parts) under a directory tree. */
  def parquetFiles(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L)
    else Option(f.listFiles).map(_.map(parquetFiles).sum).getOrElse(0L)

  def parquetNames(f: File): Set[String] =
    if (!f.exists) Set.empty
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) Set(f.getPath) else Set.empty)
    else Option(f.listFiles).map(_.flatMap(parquetNames).toSet).getOrElse(Set.empty)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  /** Nearest-rank percentile of `xs` (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Minimal JSON rendering for the result line. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/** SplitMix64: a counter-based generator, so a row's values depend only on
  * (seed, row index) and the driver and the executors agree on them. */
object Mix {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, i: Long, salt: Int): Long = mix(mix(seed * 0x632BE59BD9B4E019L + salt) ^ i)
  /** Uniform double in [0, 1). */
  def u(seed: Long, i: Long, salt: Int): Double = (h(seed, i, salt) >>> 11) * (1.0 / (1L << 53))
  /** Uniform long in [0, n). */
  def below(seed: Long, i: Long, salt: Int, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(seed, i, salt), n)

  /** A seeded permutation of 0 until n (Fisher-Yates). */
  def permutation(seed: Long, key: Long, salt: Int, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (j <- n - 1 to 1 by -1) {
      val k = below(seed, key * 64 + j, salt, j + 1).toInt
      val t = a(j); a(j) = a(k); a(k) = t
    }
    a
  }
}

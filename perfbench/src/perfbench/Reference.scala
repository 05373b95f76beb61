package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Brute-force references, written without the engine: every check filters
  * the generated rows directly (no bucket, no pruning, no Spark) with its
  * own box, geodesic, point-in-polygon, binning and sessionization code. */
object Reference {

  private val P = 2147483647L

  /** Order-independent per-row hash over every stored column, in exact
    * integer arithmetic so Spark SQL ([[rowHashCol]]) and Scala agree. */
  def rowHash(id: Long, us: Long, lon: Double, lat: Double, tb: Double): Long =
    Math.floorMod(id * 2654435761L + Math.floorMod(us, 1000000007L) * 40503L +
      (lon * 1e6).toLong * 69069L + (lat * 1e6).toLong * 7L + (tb * 1e4).toLong, P)

  def rowHashCol: Column =
    pmod(col("id") * lit(2654435761L) +
      pmod(unix_micros(col("time")), lit(1000000007L)) * lit(40503L) +
      (col("lon") * lit(1e6)).cast("bigint") * lit(69069L) +
      (col("lat") * lit(1e6)).cast("bigint") * lit(7L) +
      (col("tb") * lit(1e4)).cast("bigint"), lit(P))

  def tbInt(tb: Double): Long = (tb * 1e4).toLong
  def tbIntCol: Column = (col("tb") * lit(1e4)).cast("bigint")

  /** (count, hash sum) of rows `idx` of `r`. */
  def digest(r: SwathRows, idx: Iterator[Int]): (Long, Long) = {
    var n = 0L; var h = 0L
    idx.foreach { i => n += 1; h += rowHash(r.id(i), r.timeUs(i), r.lon(i), r.lat(i), r.tb(i)) }
    (n, h)
  }

  def inWindow(r: SwathRows, i: Int, t0: Long, t1: Long): Boolean =
    r.timeUs(i) >= t0 && r.timeUs(i) < t1

  def inBox(lon: Double, lat: Double, xmin: Double, xmax: Double,
            ymin: Double, ymax: Double): Boolean =
    lon >= xmin && lon <= xmax && lat >= ymin && lat <= ymax

  /** Even-odd ray casting over the polygon's edges. */
  def inPolygon(xs: Array[Double], ys: Array[Double], x: Double, y: Double): Boolean = {
    var c = false
    var j = xs.length - 1
    var i = 0
    while (i < xs.length) {
      if ((ys(i) > y) != (ys(j) > y) &&
          x < (xs(j) - xs(i)) * (y - ys(i)) / (ys(j) - ys(i)) + xs(i)) c = !c
      j = i; i += 1
    }
    c
  }

  private val A = 6378137.0
  private val F = 1.0 / 298.257223563
  private val B = A * (1 - F)

  /** Vincenty's inverse formula on WGS84, iterated to 1e-12 rad. */
  def geodesic(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val l = math.toRadians(lon2 - lon1)
    val u1 = math.atan((1 - F) * math.tan(math.toRadians(lat1)))
    val u2 = math.atan((1 - F) * math.tan(math.toRadians(lat2)))
    val (sinU1, cosU1, sinU2, cosU2) = (math.sin(u1), math.cos(u1), math.sin(u2), math.cos(u2))
    var lambda = l
    var iter = 0
    var done = false
    var sinSigma, cosSigma, sigma, cos2Alpha, cos2SigmaM = 0.0
    while (!done && iter < 200) {
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      sinSigma = math.sqrt(math.pow(cosU2 * sinL, 2) +
        math.pow(cosU1 * sinU2 - sinU1 * cosU2 * cosL, 2))
      if (sinSigma == 0) return 0.0
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cos2Alpha = 1 - sinAlpha * sinAlpha
      cos2SigmaM = if (cos2Alpha != 0) cosSigma - 2 * sinU1 * sinU2 / cos2Alpha else 0.0
      val c = F / 16 * cos2Alpha * (4 + F * (4 - 3 * cos2Alpha))
      val prev = lambda
      lambda = l + (1 - c) * F * sinAlpha *
        (sigma + c * sinSigma * (cos2SigmaM + c * cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM)))
      done = math.abs(lambda - prev) < 1e-12
      iter += 1
    }
    val uSq = cos2Alpha * (A * A - B * B) / (B * B)
    val bigA = 1 + uSq / 16384 * (4096 + uSq * (-768 + uSq * (320 - 175 * uSq)))
    val bigB = uSq / 1024 * (256 + uSq * (-128 + uSq * (74 - 47 * uSq)))
    val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4 * (cosSigma * (-1 + 2 * cos2SigmaM * cos2SigmaM) -
      bigB / 6 * cos2SigmaM * (-3 + 4 * sinSigma * sinSigma) * (-3 + 4 * cos2SigmaM * cos2SigmaM)))
    B * bigA * (sigma - dSigma)
  }

  private def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val sp = math.sin(math.toRadians(lat2 - lat1) / 2)
    val sl = math.sin(math.toRadians(lon2 - lon1) / 2)
    val h = sp * sp + math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * sl * sl
    2 * 6371008.8 * math.asin(math.min(1.0, math.sqrt(h)))
  }

  /** Rows within `radius` m of (lon0, lat0): `sure` rows are inside by more
    * than `eps`, `edge` rows lie within `eps` of the circle, where two
    * correct implementations may round differently. */
  def aroundPoint(r: SwathRows, lon0: Double, lat0: Double, radius: Double,
                  t0: Long, t1: Long, eps: Double = 0.01): (Array[Int], Array[Int]) = {
    val sure = Array.newBuilder[Int]; val edge = Array.newBuilder[Int]
    var i = 0
    while (i < r.size) {
      // the sphere is within 0.6% of the ellipsoid: a cheap superset first
      if (inWindow(r, i, t0, t1) && haversine(lon0, lat0, r.lon(i), r.lat(i)) <= radius * 1.01 + 100) {
        val d = geodesic(lon0, lat0, r.lon(i), r.lat(i))
        if (d <= radius - eps) sure += i
        else if (d <= radius + eps) edge += i
      }
      i += 1
    }
    (sure.result(), edge.result())
  }

  /** Bin index on a grid with integer-aligned edges `lo, lo+size, ...`:
    * right-closed bins, the first closed on both sides. */
  def binIndex(v: Double, lo: Double, size: Double, n: Int): Int =
    if (v <= lo) 0 else math.min(math.ceil((v - lo) / size).toInt - 1, n - 1)

  /** Session ids over sorted timestamps: a new session whenever the gap to
    * the previous distinct time exceeds `gapUs`. */
  def sessionIds(sortedUs: Array[Long], gapUs: Long): Array[Long] = {
    val ids = new Array[Long](sortedUs.length)
    var s = -1L
    var i = 0
    while (i < sortedUs.length) {
      if (i == 0 || sortedUs(i) - sortedUs(i - 1) > gapUs) s += 1
      ids(i) = s; i += 1
    }
    ids
  }
}

package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.BucketWriter

/** Shape of a synthetic swath collection. A granule is half a polar orbit
  * (inclination 68°, so the ground track turns at ±68° latitude) seen by a
  * conical scanner: `scans` along-track lines of `pixels` footprints across
  * an 8°-wide swath. All pixels of one scan share its timestamp, as in a
  * real level-1/2 swath product. */
final case class SwathShape(days: Int, granulesPerDay: Int, scans: Int, pixels: Int) {
  def granules: Int = days * granulesPerDay
  def rowsPerGranule: Int = scans * pixels
}

/** Columnar in-memory copy of every generated row: the reference the
  * benchmark checks program outputs against. Rows are in generation order:
  * granule by granule, so `granuleStart(g)` indexes granule g's first row. */
final class SwathRows(val lon: Array[Double], val lat: Array[Double],
                      val timeUs: Array[Long], val tb: Array[Double],
                      val granuleStart: Array[Int], val granuleDay: Array[Int]) {
  def size: Int = lon.length
  def id(i: Int): Long = i.toLong
}

object Swaths {
  /** 2021-01-01T00:00:00Z: the archive starts on a month boundary, so the
    * monthly merge periods are whole months. */
  val EpochUs: Long = 1609459200L * 1000000L
  val DayUs: Long = 86400L * 1000000L
  private val InclinationDeg = 68.0
  private val HalfOrbitSeconds = 2820.0
  private val SiderealDaySeconds = 86164.0
  private val SwathDeg = 8.0

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("time", TimestampType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("tb", DoubleType, nullable = false)))

  def wrapLon(lon: Double): Double = {
    val w = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    if (w >= 180.0) -180.0 else w
  }

  /** Generate every granule of `shape` from `seed`. Ascending-node
    * longitudes drift with a seeded random walk (so tracks move between
    * days and some cross the antimeridian), start times spread over the
    * day, and half the granules are descending passes. */
  def generate(shape: SwathShape, seed: Long): SwathRows = {
    val rnd = new SplittableRandom(seed)
    val n = shape.granules * shape.rowsPerGranule
    val lon = new Array[Double](n); val lat = new Array[Double](n)
    val time = new Array[Long](n); val tb = new Array[Double](n)
    val gStart = new Array[Int](shape.granules); val gDay = new Array[Int](shape.granules)
    val sinI = math.sin(math.toRadians(InclinationDeg))
    val cosI = math.cos(math.toRadians(InclinationDeg))
    val scanSec = HalfOrbitSeconds / (shape.scans - 1)
    var node = rnd.nextDouble() * 360.0 - 180.0
    var row = 0
    for (g <- 0 until shape.granules) {
      val day = g / shape.granulesPerDay
      val slot = g % shape.granulesPerDay
      gStart(g) = row; gDay(g) = day
      node = wrapLon(node + 137.5 + rnd.nextDouble() * 30.0)
      val descending = rnd.nextBoolean()
      val t0 = EpochUs + day * DayUs +
        ((slot * 86400.0 / shape.granulesPerDay + rnd.nextDouble() * 600.0) * 1e6).toLong
      val u0 = if (descending) 90.0 else -90.0
      def track(s: Double): (Double, Double) = {
        val u = math.toRadians(u0 + 180.0 * s / (shape.scans - 1))
        val la = math.toDegrees(math.asin(sinI * math.sin(u)))
        val lo = node + math.toDegrees(math.atan2(cosI * math.sin(u), math.cos(u))) -
          360.0 * (s * scanSec) / SiderealDaySeconds
        (lo, la)
      }
      for (s <- 0 until shape.scans) {
        val (lo, la) = track(s)
        val (lo2, la2) = track(s + 0.5)
        // unit along-track direction in local east/north degrees
        var dx = (lo2 - lo) * math.cos(math.toRadians(la)); val dy = la2 - la
        if (dx > 180) dx -= 360 else if (dx < -180) dx += 360
        val norm = math.max(math.hypot(dx, dy), 1e-12)
        val (ex, ny) = (dx / norm, dy / norm)
        val cosLat = math.max(math.cos(math.toRadians(la)), 0.05)
        val t = t0 + (s * scanSec * 1e6).toLong
        for (k <- 0 until shape.pixels) {
          val d = SwathDeg * (k.toDouble / (shape.pixels - 1) - 0.5)
          lat(row) = math.max(-89.9, math.min(89.9,
            la + d * ex + (rnd.nextDouble() - 0.5) * 0.05))
          lon(row) = wrapLon(lo - d * ny / cosLat + (rnd.nextDouble() - 0.5) * 0.05)
          time(row) = t
          tb(row) = 150.0 + 150.0 * rnd.nextDouble()
          row += 1
        }
      }
    }
    new SwathRows(lon, lat, time, tb, gStart, gDay)
  }

  private val Magic = 0x53574154 // "SWAT"

  /** SHA-256 over the files' names and bytes: equal for equal seeds. */
  def digest(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      md.update(p.getFileName.toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** Write every granule as one binary file; returns their paths in
    * granule order. Same rows in, same bytes out. */
  def writeGranules(rows: SwathRows, dir: Path): Seq[String] = {
    Files.createDirectories(dir)
    rows.granuleStart.indices.map { g =>
      val lo = rows.granuleStart(g)
      val hi = if (g + 1 < rows.granuleStart.length) rows.granuleStart(g + 1) else rows.size
      val f = dir.resolve(f"granule_d${rows.granuleDay(g)}%03d_g$g%05d.bin")
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f.toFile), 1 << 16))
      try {
        out.writeInt(Magic); out.writeInt(hi - lo)
        var i = lo
        while (i < hi) {
          out.writeLong(rows.id(i)); out.writeLong(rows.timeUs(i))
          out.writeDouble(rows.lon(i)); out.writeDouble(rows.lat(i)); out.writeDouble(rows.tb(i))
          i += 1
        }
      } finally out.close()
      f.toString
    }
  }

  /** Granule-file parser handed to the engine's distributed ingest: it runs
    * in executor tasks and only ever sees a file path. */
  object GranuleFileReader extends BucketWriter.RowGranuleReader {
    def rows(path: String): Iterator[Row] = {
      val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path), 1 << 16))
      try {
        require(in.readInt() == Magic, s"$path is not a granule file")
        val n = in.readInt()
        val buf = new Array[Row](n)
        var i = 0
        while (i < n) {
          val id = in.readLong(); val us = in.readLong()
          buf(i) = Row(id, toTimestamp(us), in.readDouble(), in.readDouble(), in.readDouble())
          i += 1
        }
        buf.iterator
      } finally in.close()
    }
  }

  def toTimestamp(us: Long): java.sql.Timestamp = {
    val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  def toMicros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
}

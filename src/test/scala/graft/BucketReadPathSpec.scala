package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.geo.NamedExtents
import graft.partitioning.{Extent, LonLatPartitioning, Partitioning2D}
import graft.sources.{BucketReader, BucketWriter}
import graft.sources.BucketReader._

/** `BucketReader.read` end to end against an independent reference.
  *
  * Seeded random rows — a share of them on the antimeridian, on the polar
  * caps and on exact cell edges — are written to hive and directory
  * buckets, two with the level order reversed. Every bucket holds two
  * write batches, the second under `b_`-prefixed file names, so filename
  * filters select a known row set. Random box, radius, sizeDeg, country
  * and polygon reads then go through the whole read path (cell selection,
  * listing, scan, label columns, refinement) and are compared with a
  * brute-force filter of the generated rows: no bucket, no pruning, no
  * Spark, and its own haversine and even-odd point-in-polygon.
  */
class BucketReadPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private type Pt = (Long, Double, Double, Timestamp, Double)

  private def tmp(name: String): String = {
    val p = Files.createTempDirectory(s"graft_$name")
    p.toFile.deleteOnExit()
    p.toString
  }

  private def toDf(rows: Seq[Pt]): DataFrame = rows.toDF("id", "lon", "lat", "time", "tb")

  /** Uniform on the sphere, with 20% on the antimeridian band, 20% on the
    * polar caps and 10% on exact edges (±180°, the poles, cell bounds). */
  private def points(rnd: scala.util.Random, from: Long, n: Int): Seq[Pt] = {
    def uniformLon = rnd.nextDouble() * 360 - 180
    def uniformLat = math.toDegrees(math.asin(2 * rnd.nextDouble() - 1))
    (from until from + n).map { id =>
      val (lon, lat) = rnd.nextInt(10) match {
        case 0 | 1 => (if (rnd.nextBoolean()) 180 - rnd.nextDouble() * 6
                       else -180 + rnd.nextDouble() * 6, uniformLat)
        case 2 | 3 => (uniformLon, (if (rnd.nextBoolean()) 1 else -1) * (90 - rnd.nextDouble() * 8))
        case 4 => (Seq(-180.0, 180.0, 0.0, 90.0, -45.0)(rnd.nextInt(5)),
                   Seq(-90.0, 90.0, 0.0, 60.0, -30.0)(rnd.nextInt(5)))
        case _ => (uniformLon, uniformLat)
      }
      (id, lon, lat, new Timestamp(1600000000000L + id * 1000L), rnd.nextDouble())
    }
  }

  /** Batch `a` written with [[BucketWriter.writeBucket]]; batch `b` written
    * the same way to a scratch bucket and moved in under `b_` names. */
  private def writeTwoBatches(dir: String, p: Partitioning2D, a: Seq[Pt], b: Seq[Pt]): Unit = {
    BucketWriter.writeBucket(toDf(a), dir, p, mode = "overwrite")
    val side = tmp("side")
    BucketWriter.writeBucket(toDf(b), side, p, mode = "overwrite")
    val root = Paths.get(side)
    Files.walk(root).iterator().asScala.toList
      .filter(f => f.getFileName.toString.endsWith(".parquet")).foreach { f =>
        val dst = Paths.get(dir).resolve(root.relativize(f.getParent))
        Files.createDirectories(dst)
        Files.move(f, dst.resolve("b_" + f.getFileName))
      }
  }

  private val layouts: Seq[Partitioning2D] = Seq(
    LonLatPartitioning(size = (30, 30)),
    LonLatPartitioning(size = (40, 20), order = Seq("lat_bin", "lon_bin")),
    LonLatPartitioning(size = (45, 30), flavor = Some("directory")),
    LonLatPartitioning(size = (36, 18), order = Seq("lat_bin", "lon_bin"), flavor = Some("directory")))

  private lazy val rnd = new scala.util.Random(20261017L)
  private lazy val batchA = points(rnd, 0L, 700)
  private lazy val batchB = points(rnd, 700L, 300)
  private lazy val buckets: Seq[String] = layouts.map { p =>
    val dir = tmp("readpath")
    writeTwoBatches(dir, p, batchA, batchB)
    dir
  }

  // ---- the reference: brute force over the generated rows

  private val EarthRadiusM = 6371008.8

  private def haversineM(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val (p1, p2) = (math.toRadians(lat1), math.toRadians(lat2))
    val h = math.pow(math.sin((p2 - p1) / 2), 2) +
      math.cos(p1) * math.cos(p2) * math.pow(math.sin(math.toRadians(lon2 - lon1) / 2), 2)
    2 * EarthRadiusM * math.asin(math.min(1.0, math.sqrt(h)))
  }

  private def inBox(e: Extent, r: Pt): Boolean =
    r._2 >= e.xmin && r._2 <= e.xmax && r._3 >= e.ymin && r._3 <= e.ymax

  private def inPolygon(vs: Seq[(Double, Double)], x: Double, y: Double): Boolean = {
    var inside = false
    vs.indices.foreach { i =>
      val (xi, yi) = vs(i)
      val (xj, yj) = vs((i + vs.length - 1) % vs.length)
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
    }
    inside
  }

  /** (ids that must be returned, ids that may be returned). The sphere
    * differs from the WGS84 ellipsoid by well under 1%, so a radius read
    * must return every row inside 0.99 d and nothing beyond 1.01 d. */
  private def reference(q: SpatialQuery, rows: Seq[Pt]): (Set[Long], Set[Long]) = {
    def exact(keep: Pt => Boolean) = { val s = rows.filter(keep).map(_._1).toSet; (s, s) }
    def clamp(e: Extent) = Extent(math.max(e.xmin, -180), math.min(e.xmax, 180),
      math.max(e.ymin, -90), math.min(e.ymax, 90))
    q match {
      case Everything => exact(_ => true)
      case ByExtent(e, pad) =>
        exact(inBox(Extent(e.xmin - pad, e.xmax + pad, e.ymin - pad, e.ymax + pad), _))
      case ByCountry(n, _) => exact(inBox(NamedExtents.country(n), _))
      case AroundPoint(lon, lat, d, s) if d.isNaN =>
        exact(inBox(clamp(Extent(lon - s / 2, lon + s / 2, lat - s / 2, lat + s / 2)), _))
      case AroundPoint(lon, lat, d, _) =>
        val dist = rows.map(r => r._1 -> haversineM(lon, lat, r._2, r._3))
        (dist.filter(_._2 <= 0.99 * d).map(_._1).toSet, dist.filter(_._2 <= 1.01 * d).map(_._1).toSet)
      case ByPolygon(vs, _) =>
        exact(r => inBox(Extent(vs.map(_._1).min, vs.map(_._1).max, vs.map(_._2).min, vs.map(_._2).max), r) &&
          inPolygon(vs, r._2, r._3))
      case other => fail(s"no reference for $other")
    }
  }

  /** Read through the engine and compare with the reference. */
  private def check(dir: String, q: SpatialQuery, glob: String = null): Unit = {
    val rows = glob match {
      case null => batchA ++ batchB
      case "b_*" => batchB
      case "part-*" => batchA
    }
    val df = BucketReader.read(spark, dir, q, globPattern = glob)
    val got = df.select("id").as[Long].collect()
    val (must, may) = reference(q, rows)
    val clue = s"$q glob=$glob on $dir"
    assert(got.length == got.distinct.length, s"duplicate rows: $clue")
    assert(must.diff(got.toSet).isEmpty, s"missing ${must.diff(got.toSet).size} rows: $clue")
    assert(got.toSet.diff(may).isEmpty, s"unexpected ${got.toSet.diff(may).size} rows: $clue")
    q match {
      case AroundPoint(_, _, d, _) if !d.isNaN => assert(df.where($"distance" > d).isEmpty, clue)
      case _ => ()
    }
  }

  // ---- random queries: half the centres on the antimeridian or a pole

  private def centre(r: scala.util.Random): (Double, Double) = r.nextInt(4) match {
    case 0 => ((if (r.nextBoolean()) 1 else -1) * (180 - r.nextDouble() * 3), r.nextDouble() * 160 - 80)
    case 1 => (r.nextDouble() * 360 - 180, (if (r.nextBoolean()) 1 else -1) * (90 - r.nextDouble() * 12))
    case _ => (r.nextDouble() * 360 - 180, r.nextDouble() * 180 - 90)
  }

  private def randomQuery(r: scala.util.Random): SpatialQuery = r.nextInt(5) match {
    case 0 =>
      val x0 = if (r.nextInt(5) == 0) -180.0 else r.nextDouble() * 359 - 180
      val y0 = if (r.nextInt(5) == 0) -90.0 else r.nextDouble() * 179 - 90
      val x1 = if (r.nextInt(5) == 0) 180.0 else math.min(180.0, x0 + 0.5 + r.nextDouble() * 120)
      val y1 = if (r.nextInt(5) == 0) 90.0 else math.min(90.0, y0 + 0.5 + r.nextDouble() * 60)
      ByExtent(Extent(x0, x1, y0, y1), padding = if (r.nextInt(4) == 0) r.nextDouble() * 3 else 0.0)
    case 1 =>
      val (lon, lat) = centre(r)
      AroundPoint(lon, lat, distance = 50e3 + r.nextDouble() * 2.5e6)
    case 2 =>
      val (lon, lat) = centre(r)
      AroundPoint(lon, lat, sizeDeg = 1 + r.nextDouble() * 40)
    case 3 =>
      val names = NamedExtents.countries.keys.toSeq.sorted
      ByCountry(names(r.nextInt(names.length)))
    case _ =>
      // a star-shaped (so simple) polygon, clamped to the globe
      val (cx, cy) = centre(r)
      val k = 3 + r.nextInt(6)
      val angles = Seq.fill(k)(r.nextDouble() * 2 * math.Pi).sorted
      val vs = angles.map { a =>
        val rad = 2 + r.nextDouble() * 25
        (math.max(-180.0, math.min(180.0, cx + rad * math.cos(a))),
          math.max(-90.0, math.min(90.0, cy + rad * math.sin(a))))
      }
      ByPolygon(vs, padding = if (r.nextInt(4) == 0) r.nextDouble() * 2 else 0.0)
  }

  test("differential: random reads of hive and directory buckets ≡ brute-force filter of the written rows") {
    val qr = new scala.util.Random(7L)
    buckets.foreach { dir =>
      check(dir, Everything)
      check(dir, Everything, glob = "b_*")
      (1 to 14).foreach { _ =>
        val glob = qr.nextInt(8) match { case 0 | 1 => "b_*"; case 2 => "part-*"; case _ => null }
        check(dir, randomQuery(qr), glob)
      }
    }
  }

  test("radius reads across the antimeridian and over the poles return every row in the circle") {
    val lat0 = batchA.find(_._2 < -178.0).get._3
    val queries = Seq(
      AroundPoint(179.5, lat0, distance = 300e3),     // east of the line, rows west of it
      AroundPoint(-179.8, 10.0, distance = 800e3),
      AroundPoint(179.0, -70.0, distance = 1500e3),
      AroundPoint(10.0, 88.0, distance = 500e3),      // holds the north pole
      AroundPoint(-100.0, -86.0, distance = 600e3),   // holds the south pole
      AroundPoint(45.0, 80.0, distance = 1100e3))     // near a pole: wide longitude reach
    buckets.foreach(dir => queries.foreach(check(dir, _)))
  }

  test("empty selection: no rows with the bucket's schema, both flavors, extents and polygons") {
    Seq(None, Some("directory")).foreach { flavor =>
      val dir = tmp("emptysel")
      val p = LonLatPartitioning(size = (10, 10), flavor = flavor)
      BucketWriter.writeBucket(OrbitFixture.standard(spark), dir, p, mode = "overwrite")
      val full = BucketReader.read(spark, dir).schema
      val radius = BucketReader.read(spark, dir, AroundPoint(5.0, 10.0, distance = 500e3)).schema
      Seq(
        ByExtent(Extent(100, 120, -50, -30)) -> full,
        ByCountry("Chile") -> full,
        AroundPoint(-120.0, 89.0, sizeDeg = 4) -> full,
        ByPolygon(Seq((100.0, -50.0), (120.0, -50.0), (110.0, -30.0))) -> full,
        AroundPoint(-60.0, 89.5, distance = 300e3) -> radius,
        AroundPoint(179.9, -40.0, distance = 200e3) -> radius
      ).foreach { case (q, schema) =>
        val df = BucketReader.read(spark, dir, q)
        assert(df.schema == schema, s"$flavor $q")
        assert(df.count() == 0, s"$flavor $q")
      }
    }
  }
}

package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.geo.NamedExtents
import graft.operators.Analysis
import graft.partitioning.{Extent, GeoExtent, LonLatPartitioning}
import graft.sources.BucketReader
import graft.sources.BucketReader._

/** What one timed operation returned, checked against the reference. */
final case class Outcome(ok: Boolean, detail: String = "")

/** A workload: the archive its set-up builds and the operation its closed
  * loop repeats. */
trait Workload {
  def name: String
  def shape: SwathShape
  def grid: LonLatPartitioning
  /** Operation kinds; operation `i` is of kind `i % kinds`. */
  def kinds: Int
  /** Draw the seeded query sequences once the archive exists: one for
    * timed operations and one, from a separate stream, for warm-up. */
  def prepare(ctx: Ctx): Unit
  /** Run timed operation `i`, or warm-up operation `i`, on its query;
    * return a check to run after the timer stops. */
  def op(ctx: Ctx, i: Int, warmup: Boolean): () => Outcome
  /** Radius of the workload's `AroundPoint` reads. */
  def radiusM: Double
}

/** Everything an operation needs: session, archive paths, reference rows. */
final class Ctx(val spark: SparkSession, val rows: SwathRows, val seed: Long,
                val dir: java.nio.file.Path, val tracer: Tracer) {
  def bucket: String = dir.resolve("bucket").toString
  def archive: String = dir.resolve("archive").toString
  /** The archive's grid, read once here so no benchmark read of the
    * manifest falls inside a timed operation. */
  val partitioning: graft.partitioning.Partitioning2D = graft.sources.BucketInfo.readPartitioning(archive)
  /** Reads of the current operation (traced runs), for [[PlanStats]]. */
  val reads = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, SpatialQuery)]
}

object Workloads {
  val Columns = Seq("id", "time", "lon", "lat", "tb")

  def byName(name: String): Workload = name match {
    case "point_reads" => PointReads
    case "regional_cube" => RegionalCube
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (point_reads, regional_cube)")
  }

  def timeWindow(t0: Long, t1: Long): Column =
    col("time") >= lit(Swaths.toTimestamp(t0)) && col("time") < lit(Swaths.toTimestamp(t1))

  /** A point drawn uniformly over the sphere's area: poles and the
    * antimeridian included. */
  def globePoint(rnd: SplittableRandom): (Double, Double) =
    (rnd.nextDouble() * 360.0 - 180.0, math.toDegrees(math.asin(2 * rnd.nextDouble() - 1)))

  /** Whether a circle of `radiusM` around (lon, lat) reaches the 180°
    * meridian (poles included), on a sphere with 2% to spare for the
    * ellipsoid. The engine's radius pruning box is clamped at ±180°, so
    * such a read loses the rows past the antimeridian (ROADMAP direction 4).
    * Timed reads avoid those circles, because a benchmark operation must
    * not fail; [[antimeridianProbe]] keeps the defect in view on every run. */
  def reachesAntimeridian(lon: Double, lat: Double, radiusM: Double): Boolean = {
    val d = 180.0 - math.abs(lon)
    val rad =
      if (d <= 90.0) math.asin(math.cos(math.toRadians(lat)) * math.sin(math.toRadians(d)))
      else math.toRadians(90.0 - math.abs(lat))
    rad * 6371008.8 <= radiusM * 1.02
  }

  /** A radius-read centre: uniform over the sphere, drawn again while its
    * circle reaches the antimeridian. */
  def radiusCentre(rnd: SplittableRandom, radiusM: Double): (Double, Double) = {
    var p = globePoint(rnd)
    while (reachesAntimeridian(p._1, p._2, radiusM)) p = globePoint(rnd)
    p
  }

  /** One untimed radius read across the antimeridian, centred at 179.5°E
    * on the latitude of a generated row just west of -178°, checked
    * against the reference. It does not count in the result: the engine
    * drops the far-side rows (ROADMAP direction 4), and the log line says
    * whether it still does. */
  def antimeridianProbe(ctx: Ctx, radiusM: Double): String = {
    val r = ctx.rows
    r.lon.indices.find(i => r.lon(i) < -178.0) match {
      case None => "antimeridian probe: no generated row west of -178°, nothing to probe"
      case Some(i) =>
        val q = AroundPoint(179.5, r.lat(i), distance = radiusM)
        val rows = readCollect(ctx, q, Columns, Nil)(df => df)
        ctx.reads.clear()
        val (sure, edge) = Reference.aroundPoint(r, q.lon, q.lat, radiusM, Long.MinValue, Long.MaxValue)
        val o = compareRadius(rows, r, sure, edge)
        s"antimeridian probe $q: ${rows.length} rows, reference ${sure.length} (+${edge.length} on the edge); " +
          (if (o.ok) "matches" else s"known defect, not counted: ${o.detail}")
    }
  }

  def clampLon(x: Double): Double = math.max(-180.0, math.min(180.0, x))
  def clampLat(y: Double): Double = math.max(-90.0, math.min(90.0, y))

  /** Read through the engine, tracing the reader call and the action. */
  def readCollect(ctx: Ctx, q: SpatialQuery, cols: Seq[String],
                  filters: Seq[Column])(action: DataFrame => DataFrame): Array[Row] = {
    val df = ctx.tracer.span("sources.bucket_reader") {
      BucketReader.read(ctx.spark, ctx.archive, q, columns = cols, filters = filters)
    }
    val out = action(df)
    val rows = ctx.tracer.span("spark")(out.collect())
    if (ctx.tracer.enabled) ctx.reads += ((out, q))
    rows
  }

  def digestRows(rows: Array[Row]): (Long, Long) = {
    var h = 0L
    rows.foreach { r =>
      h += Reference.rowHash(r.getLong(0), Swaths.toMicros(r.getTimestamp(1)),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))
    }
    (rows.length.toLong, h)
  }

  def compare(got: (Long, Long), want: (Long, Long)): Outcome =
    if (got == want) Outcome(ok = true)
    else Outcome(ok = false, s"rows/hash ${got._1}/${got._2}, reference ${want._1}/${want._2}")

  /** Radius results: every surely-inside row present, nothing outside the
    * rounding band, and each returned row's values intact. */
  def compareRadius(rows: Array[Row], r: SwathRows, sure: Array[Int], edge: Array[Int]): Outcome = {
    val got = rows.map(_.getLong(0)).toSet
    val sureIds = sure.map(r.id).toSet
    val allowed = sureIds ++ edge.map(r.id)
    val missing = sureIds.diff(got).size
    val extra = got.diff(allowed).size
    val intact = rows.forall { row =>
      val i = row.getLong(0).toInt
      i >= 0 && i < r.size &&
        Reference.rowHash(row.getLong(0), Swaths.toMicros(row.getTimestamp(1)),
          row.getDouble(2), row.getDouble(3), row.getDouble(4)) ==
        Reference.rowHash(r.id(i), r.timeUs(i), r.lon(i), r.lat(i), r.tb(i))
    }
    if (missing == 0 && extra == 0 && intact) Outcome(ok = true)
    else Outcome(ok = false, s"$missing reference rows missing, $extra unexpected rows, intact=$intact")
  }

  /** (rows, hash sum) of the archive, read back through the engine. */
  def archiveDigest(ctx: Ctx): (Long, Long) = {
    val df = ctx.tracer.span("sources.bucket_reader")(BucketReader.read(ctx.spark, ctx.archive))
    val out = df.agg(count(lit(1)), sum(Reference.rowHashCol))
    val row = ctx.tracer.span("spark")(out.collect().head)
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }
}

import Workloads._

/** Small reads on one month on the fine (4°) production grid, one file per
  * cell (~2.8k): building the file index dominates each read. */
object PointReads extends Workload {
  val name = "point_reads"
  val shape = SwathShape(days = 31, granulesPerDay = 1, scans = 300, pixels = 8)
  val grid = LonLatPartitioning(size = (4, 4), labelsDecimals = Some((0, 0)))
  val kinds = 4
  private val WindowDays = 10
  val radiusM = 300e3

  /** Countries small enough to be point reads (box of at most 400 deg²). */
  private lazy val smallCountries = NamedExtents.countries.toSeq
    .filter { case (_, e) => (e.xmax - e.xmin) * (e.ymax - e.ymin) <= 400 }
    .map(_._1).sorted

  final case class Q(query: SpatialQuery, t0: Long, t1: Long)

  private var timed, warm: IndexedSeq[Q] = IndexedSeq.empty

  override def prepare(ctx: Ctx): Unit = {
    val rnd = new SplittableRandom(ctx.seed * 7919L + 17L)
    warm = draw(rnd.split(), 256)
    timed = draw(rnd, 4096)
  }

  // query kinds take turns, so every run times the same mix
  private def draw(rnd: SplittableRandom, n: Int): IndexedSeq[Q] =
    IndexedSeq.tabulate(n) { k =>
      val (lon, lat) = if (k % kinds == 1) radiusCentre(rnd, radiusM) else globePoint(rnd)
      val day = rnd.nextInt(shape.days - WindowDays + 1)
      val t0 = Swaths.EpochUs + day * Swaths.DayUs
      val q = k % kinds match {
        case 0 => ByExtent(Extent(clampLon(lon - 2.5), clampLon(lon + 2.5),
          clampLat(lat - 2.5), clampLat(lat + 2.5)))
        case 1 => AroundPoint(lon, lat, distance = radiusM)
        case 2 => ByCountry(smallCountries(rnd.nextInt(smallCountries.size)))
        case _ =>
          val scale = 1.0 / math.max(math.cos(math.toRadians(lat)), 0.2)
          ByPolygon((0 until 6).map { v =>
            val a = math.toRadians(60.0 * v + rnd.nextDouble() * 30.0)
            val rad = 1.5 + rnd.nextDouble() * 1.5
            (clampLon(lon + rad * scale * math.cos(a)), clampLat(lat + rad * math.sin(a)))
          })
      }
      Q(q, t0, t0 + WindowDays * Swaths.DayUs)
    }

  def op(ctx: Ctx, i: Int, warmup: Boolean): () => Outcome = {
    val qs = if (warmup) warm else timed
    val q = qs(i % qs.size)
    val rows = readCollect(ctx, q.query, Columns, Seq(timeWindow(q.t0, q.t1)))(df => df)
    () => check(ctx.rows, q, rows)
  }

  private def check(r: SwathRows, q: Q, rows: Array[Row]): Outcome = {
    val o = checkRows(r, q, rows)
    if (o.ok) o else o.copy(detail = s"${q.query}: ${o.detail}")
  }

  private def checkRows(r: SwathRows, q: Q, rows: Array[Row]): Outcome = {
    def box(e: Extent) = compare(digestRows(rows), Reference.digest(r, r.lon.indices.iterator.filter(i =>
      Reference.inWindow(r, i, q.t0, q.t1) && Reference.inBox(r.lon(i), r.lat(i), e.xmin, e.xmax, e.ymin, e.ymax))))
    q.query match {
      case ByExtent(e, _) => box(e)
      case ByCountry(n, _) => box(NamedExtents.countries(n))
      case AroundPoint(lon, lat, d, _) =>
        val (sure, edge) = Reference.aroundPoint(r, lon, lat, d, q.t0, q.t1)
        compareRadius(rows, r, sure, edge)
      case ByPolygon(vs, _) =>
        val xs = vs.map(_._1).toArray; val ys = vs.map(_._2).toArray
        compare(digestRows(rows), Reference.digest(r, r.lon.indices.iterator.filter(i =>
          Reference.inWindow(r, i, q.t0, q.t1) && Reference.inPolygon(xs, ys, r.lon(i), r.lat(i)))))
      case other => Outcome(ok = false, s"unexpected query $other")
    }
  }
}

/** Continent, hemisphere and radius reads on a coarse (10°) one-month
  * archive, one file per cell, each feeding an analysis: the scan and
  * analysis jobs take most of each operation. */
object RegionalCube extends Workload {
  val name = "regional_cube"
  val shape = SwathShape(days = 31, granulesPerDay = 8, scans = 250, pixels = 20)
  val grid = LonLatPartitioning(size = (10, 10), labelsDecimals = Some((0, 0)))
  val kinds = 3
  private val CubeWindowDays = 20
  private val HemisphereWindowDays = 10
  val radiusM = 700e3
  private val continents = NamedExtents.continents.keys.toSeq.sorted

  sealed trait Q
  final case class Cube(continent: String, t0: Long, t1: Long) extends Q
  final case class Overpasses(lon: Double, lat: Double) extends Q
  final case class Occurrence(north: Boolean, t0: Long, t1: Long) extends Q

  private var timed, warm: IndexedSeq[Q] = IndexedSeq.empty

  override def prepare(ctx: Ctx): Unit = {
    val rnd = new SplittableRandom(ctx.seed * 104729L + 29L)
    warm = draw(rnd.split(), 64)
    timed = draw(rnd, 1024)
  }

  // analyses take turns, so every run times the same mix
  private def draw(rnd: SplittableRandom, n: Int): IndexedSeq[Q] = {
    def start(days: Int) = Swaths.EpochUs + rnd.nextInt(shape.days - days + 1) * Swaths.DayUs
    IndexedSeq.tabulate(n) { k =>
      k % kinds match {
        case 0 =>
          val c = continents(rnd.nextInt(continents.size)); val t0 = start(CubeWindowDays)
          Cube(c, t0, t0 + CubeWindowDays * Swaths.DayUs)
        case 1 => val (lon, lat) = radiusCentre(rnd, radiusM); Overpasses(lon, lat)
        case _ =>
          val north = rnd.nextBoolean(); val t0 = start(HemisphereWindowDays)
          Occurrence(north, t0, t0 + HemisphereWindowDays * Swaths.DayUs)
      }
    }
  }

  def op(ctx: Ctx, i: Int, warmup: Boolean): () => Outcome = {
    val qs = if (warmup) warm else timed
    run(ctx, qs(i % qs.size))
  }

  private def run(ctx: Ctx, q: Q): () => Outcome = q match {
    case q @ Cube(c, t0, t1) =>
      val e = NamedExtents.continents(c)
      val cells = LonLatPartitioning(size = (1, 1),
        extent = Extent(math.floor(e.xmin), math.ceil(e.xmax), math.floor(e.ymin), math.ceil(e.ymax)))
      val rows = readCollect(ctx, ByContinent(c), Columns, Seq(timeWindow(t0, t1))) { df =>
        ctx.tracer.span("operators.analysis") {
          val agg = cells.addCentroids(df, "lon", "lat").groupBy("lon_c", "lat_c")
            .agg(sum(Reference.tbIntCol).as("tb_sum"), count(lit(1)).as("n"))
          Analysis.toGridCube(ctx.spark, agg, cells)
        }
      }
      () => checkCube(ctx.rows, q, cells, rows)
    case q @ Overpasses(lon, lat) =>
      val rows = readCollect(ctx, AroundPoint(lon, lat, distance = radiusM), Seq("time"), Nil) { df =>
        ctx.tracer.span("operators.analysis")(Analysis.listOverpassTimes(df, gapSeconds = 3600))
      }
      () => checkOverpasses(ctx.rows, q, rows)
    case q @ Occurrence(north, t0, t1) =>
      val hemi = if (north) Extent(-180, 180, 0, 90) else Extent(-180, 180, -90, 0)
      val rows = readCollect(ctx, ByExtent(hemi), Seq("id", "time", "lon_bin", "lat_bin"),
          Seq(timeWindow(t0, t1))) { df =>
        ctx.tracer.span("operators.analysis") {
          Analysis.countOverpassOccurrence(df, gapSeconds = 120, partitionBy = Seq("lon_bin", "lat_bin"))
            .agg(count(lit(1)), sum("overpass_id"), sum("count_overpass_occurence"),
              sum(pmod(col("id") * 7919L + col("overpass_id") * 104729L +
                col("count_overpass_occurence"), lit(2147483647L))))
        }
      }
      () => checkOccurrence(ctx.rows, q, hemi, rows)
  }

  private def checkCube(r: SwathRows, q: Cube, cells: LonLatPartitioning, rows: Array[Row]): Outcome = {
    val e = NamedExtents.continents(q.continent)
    val (x0, y0) = (cells.extent.xmin, cells.extent.ymin)
    val want = scala.collection.mutable.Map.empty[(Int, Int), (Long, Long)]
    var i = 0
    while (i < r.size) {
      if (Reference.inWindow(r, i, q.t0, q.t1) &&
          Reference.inBox(r.lon(i), r.lat(i), e.xmin, e.xmax, e.ymin, e.ymax)) {
        val k = (Reference.binIndex(r.lon(i), x0, 1.0, cells.nX), Reference.binIndex(r.lat(i), y0, 1.0, cells.nY))
        val (s, n) = want.getOrElse(k, (0L, 0L))
        want(k) = (s + Reference.tbInt(r.tb(i)), n + 1)
      }
      i += 1
    }
    val got = rows.filter(!_.isNullAt(3)).map { row =>
      (math.floor(row.getDouble(0) - x0).toInt, math.floor(row.getDouble(1) - y0).toInt) ->
        (row.getLong(2), row.getLong(3))
    }.toMap
    if (rows.length != cells.nX * cells.nY) Outcome(ok = false, s"cube has ${rows.length} cells, grid ${cells.nX * cells.nY}")
    else if (got != want) Outcome(ok = false, s"$q: ${got.size} filled cells, reference ${want.size}; differing " +
      s"${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))}")
    else Outcome(ok = true)
  }

  private def sessions(times: Array[Long], gapUs: Long): Seq[(Long, Long)] = {
    val sorted = times.distinct.sorted
    val ids = Reference.sessionIds(sorted, gapUs)
    sorted.indices.groupBy(ids(_)).toSeq.sortBy(_._1).map { case (_, ix) => (sorted(ix.head), sorted(ix.last)) }
  }

  private def checkOverpasses(r: SwathRows, q: Overpasses, rows: Array[Row]): Outcome = {
    val (sure, edge) = Reference.aroundPoint(r, q.lon, q.lat, radiusM, Long.MinValue, Long.MaxValue)
    val got = rows.map(row => (row.getLong(0), Swaths.toMicros(row.getTimestamp(1)),
      Swaths.toMicros(row.getTimestamp(2)))).sortBy(_._1).toSeq
    val gotSpans = got.map(g => (g._2, g._3))
    val idsOk = got.map(_._1) == got.indices.map(_.toLong)
    // rows within rounding distance of the circle may go either way
    val candidates = Seq(sure, sure ++ edge).distinct.map(ix => sessions(ix.map(r.timeUs), 3600L * 1000000L))
    if (idsOk && candidates.contains(gotSpans)) Outcome(ok = true)
    else Outcome(ok = false, s"$q: ${got.size} overpasses, reference ${candidates.head.size}")
  }

  private def checkOccurrence(r: SwathRows, q: Occurrence, hemi: Extent, rows: Array[Row]): Outcome = {
    val byCell = r.lon.indices.iterator.filter(i => Reference.inWindow(r, i, q.t0, q.t1) &&
        Reference.inBox(r.lon(i), r.lat(i), hemi.xmin, hemi.xmax, hemi.ymin, hemi.ymax))
      .toSeq.groupBy(i => (Reference.binIndex(r.lon(i), -180, 10, grid.nX), Reference.binIndex(r.lat(i), -90, 10, grid.nY)))
    var (n, sumId, sumCnt, hash) = (0L, 0L, 0L, 0L)
    byCell.values.foreach { ix =>
      val sorted = ix.sortBy(r.timeUs(_)).toArray
      val ids = Reference.sessionIds(sorted.map(r.timeUs), 120L * 1000000L)
      val counts = ids.groupBy(identity).view.mapValues(_.length.toLong).toMap
      sorted.indices.foreach { k =>
        val c = counts(ids(k))
        n += 1; sumId += ids(k); sumCnt += c
        hash += Math.floorMod(r.id(sorted(k)) * 7919L + ids(k) * 104729L + c, 2147483647L)
      }
    }
    val row = rows.head
    val got = if (row.isNullAt(1)) (row.getLong(0), 0L, 0L, 0L)
              else (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    if (got == ((n, sumId, sumCnt, hash))) Outcome(ok = true)
    else Outcome(ok = false, s"$q: occurrence digest $got, reference ${(n, sumId, sumCnt, hash)}")
  }
}

/** Per-read counters taken from the executed plan (traced runs only):
  * files listed by the file index versus files scanned, cells the
  * partitioning selected versus cells that exist on disk, and rows the scan
  * produced versus rows left after spatial refinement. */
object PlanStats extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}

  /** Record the counters of one read under operation `op`. */
  def record(ctx: Ctx, op: Int, df: DataFrame, q: SpatialQuery): Unit = {
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).fold(0L)(_.value)
    val rowsIn = scans.map(metric(_, "numOutputRows")).sum
    val refined = collect(plan) {
      case f: FilterExec if collect(f.child) { case s: FileSourceScanExec => s }.nonEmpty => f
    }
    val rowsOut = if (refined.isEmpty) rowsIn else refined.map(_.metrics("numOutputRows").value).sum
    val tr = ctx.tracer
    tr.count(op, "sources.bucket_reader.files_read", scans.map(metric(_, "numFiles")).sum.toDouble)
    tr.count(op, "partitioning.cells_hit", scans.map(metric(_, "numPartitions")).sum.toDouble)
    tr.count(op, "partitioning.cells_selected", cellsSelected(ctx.partitioning, q).toDouble)
    tr.count(op, "operators.spatial_filters.rows_in", rowsIn.toDouble)
    tr.count(op, "operators.spatial_filters.rows_out", rowsOut.toDouble)
    tr.count(op, "reads", 1)
  }

  private def cellsSelected(p: graft.partitioning.Partitioning2D, q: SpatialQuery): Int = {
    def ext(e: Extent) = { val (xs, ys) = p.partitionIndicesByExtent(e); xs.length * ys.length }
    q match {
      case ByExtent(e, _) => ext(e)
      case ByCountry(n, pad) => ext(NamedExtents.country(n, pad))
      case ByContinent(n, pad) => ext(NamedExtents.continent(n, pad))
      case AroundPoint(lon, lat, d, s) => ext(GeoExtent.aroundPoint(lon, lat, d, s))
      case ByPolygon(vs, pad) => p.partitionIndicesByPolygon(vs, pad).size
      case Everything => p.nPartitions
    }
  }
}

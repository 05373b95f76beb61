package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Polygon
import graft.partitioning.{Extent, LonLatPartitioning}
import graft.sources.{BucketReader, BucketWriter}

/** Per-cell polygon pruning: rectangle/polygon intersection geometry and
  * the cell-set reduction vs bounding-box pruning. */
class PolygonPruneSpec extends AnyFunSuite {

  // q115's C-shape (opens east); bbox [-57,53]×[-33,53]
  private val cXs = Array(-57.0, 53.0, 53.0, -17.0, -17.0, 53.0, 53.0, -57.0)
  private val cYs = Array(-33.0, -33.0, -7.0, -7.0, 23.0, 23.0, 53.0, 53.0)

  test("rectIntersects: the four containment/crossing regimes") {
    val txs = Array(0.0, 10.0, 5.0)
    val tys = Array(0.0, 0.0, 10.0)
    // rect fully inside the triangle
    assert(Polygon.rectIntersects(txs, tys, 4.0, 6.0, 1.0, 2.0))
    // triangle fully inside the rect
    assert(Polygon.rectIntersects(txs, tys, -5.0, 15.0, -5.0, 15.0))
    // edge crossing with no vertex containment either way
    assert(Polygon.rectIntersects(txs, tys, -1.0, 11.0, -0.5, 0.5))
    // disjoint
    assert(!Polygon.rectIntersects(txs, tys, 20.0, 30.0, 0.0, 10.0))
    // touching at a single polygon vertex (closed-rect convention: counts)
    assert(Polygon.rectIntersects(txs, tys, 10.0, 20.0, -10.0, 0.0))
  }

  test("C-shape: notch cells pruned, frame cells kept, result superset of polygon") {
    val p = LonLatPartitioning(size = (10, 10))
    val bbox = Extent(-57.0, 53.0, -33.0, 53.0)
    val (bx, by) = p.partitionIndicesByExtent(bbox)
    val bboxCells = for (j <- by.toSeq; i <- bx.toSeq) yield (i, j)
    val polyCells = p.partitionIndicesByPolygon(
      cXs.zip(cYs).toSeq)

    assert(polyCells.toSet.subsetOf(bboxCells.toSet))
    // the notch interior (-17..53 × -7..23) minus its polygon-touching rim
    // must be gone: strictly fewer cells than the bbox
    assert(polyCells.size < bboxCells.size,
      s"expected pruning, got ${polyCells.size} of ${bboxCells.size}")
    // a cell deep inside the notch: centroid (25, 5) → untouched by the C
    val notchI = p.xCentroids.indexOf(25.0)
    val notchJ = p.yCentroids.indexOf(5.0)
    assert(notchI >= 0 && notchJ >= 0)
    assert(!polyCells.contains((notchI, notchJ)), "notch cell must be pruned")
    // a cell on the west spine: centroid (-45, 5) → inside the C
    val spineI = p.xCentroids.indexOf(-45.0)
    assert(spineI >= 0)
    assert(polyCells.contains((spineI, notchJ)), "spine cell must be kept")

    // completeness: every cell whose rect contains a polygon-interior
    // sample point is in the pruned set (dense sample over the bbox)
    for (lon <- BigDecimal(-56.5) to BigDecimal(52.5) by 2.0;
         lat <- BigDecimal(-32.5) to BigDecimal(52.5) by 2.0) {
      val (x, y) = (lon.toDouble, lat.toDouble)
      if (Polygon.contains(cXs, cYs, x, y)) {
        val i = math.floor((x + 180.0) / 10.0).toInt
        val j = math.floor((y + 90.0) / 10.0).toInt
        assert(polyCells.contains((i, j)),
          s"cell ($i, $j) holds interior point ($x, $y) but was pruned")
      }
    }
  }

  test("exact cell selection: an L-shaped cell set lists and scans 3 cells, not 4") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // rows in the four cells (0..20)² of a 10° grid; the L-shaped polygon
    // touches three of them, and the cross product of its x and y cells
    // would also admit the fourth, (10..20)²
    val rows = for {
      (lon, lat) <- Seq((5.0, 5.0), (15.0, 5.0), (5.0, 15.0), (15.0, 15.0))
      k <- 0 until 4
    } yield (lon + k * 0.5, lat + k * 0.5)
    val lShape = Seq((1.0, 1.0), (19.0, 1.0), (19.0, 9.0), (9.0, 9.0), (9.0, 19.0), (1.0, 19.0))
    Seq(None, Some("directory")).foreach { flavor =>
      val dir = java.nio.file.Files.createTempDirectory("graft_lshape").toString
      val p = LonLatPartitioning(size = (10, 10), flavor = flavor)
      BucketWriter.writeBucket(rows.toDF("lon", "lat"), dir, p, mode = "overwrite")
      val df = BucketReader.read(spark, dir, BucketReader.ByPolygon(lShape))

      val cells = Seq((18, 9), (19, 9), (18, 10)) // (i, j) of (0..10)², (10..20)×(0..10), (0..10)×(10..20)
      assert(p.partitionIndicesByPolygon(lShape).toSet == cells.toSet)
      val listed = df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.toUri.getPath).toSet
      val want = p.directoriesForCells(cells).map(rel =>
        new org.apache.hadoop.fs.Path(s"$dir/$rel").toUri.getPath).toSet
      assert(listed == want, s"$flavor")

      val read = df.select("lon", "lat")
      val got = read.collect().map(r => (r.getDouble(0), r.getDouble(1)))
      assert(ScanStats.numFiles(read) == df.inputFiles.length, s"$flavor")
      assert(got.toSet == rows.filter { case (x, y) => x < 10 || y < 10 }.toSet, s"$flavor")
    }
  }
}

/** Files the parquet scans of an executed DataFrame read. */
object ScanStats extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  def numFiles(df: org.apache.spark.sql.DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
    }.sum
}

package graft.sources

import java.nio.file.{FileSystems, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.partitioning.{Extent, GeoExtent, Partitioning2D}
import graft.geo.NamedExtents
import graft.operators.SpatialFilters

/** The read query path (reference read_bucket / satbucket.read,
  * satbucket/readers.py:162-303): extent → labels → only those
  * directories listed and scanned.
  *
  * One selection path serves every flavor and query kind. The
  * partitioning names the candidate cell directories (a box's cells, or a
  * polygon's exact cell set), [[BucketFs.filterExisting]] keeps those on
  * disk, and Spark is handed only them — or their files when a filename
  * filter is set; `Everything` hands it the bucket root. The flavor
  * decides only how the label columns appear: hive labels come from
  * partition discovery under `basePath = bucketDir`, directory-flavor
  * labels from the file path segments. The vectorized parquet scan then
  * gets projection and predicate pushdown, followed by the exact row
  * refinement and an optional limit.
  */
object BucketReader {

  sealed trait SpatialQuery
  case object Everything extends SpatialQuery
  final case class ByExtent(extent: Extent, padding: Double = 0.0) extends SpatialQuery
  final case class ByCountry(name: String, padding: Double = 0.0) extends SpatialQuery
  final case class ByContinent(name: String, padding: Double = 0.0) extends SpatialQuery
  /** Geodesic radius (meters) or a sizeDeg-wide box around a point; appends
    * a `distance` column like the reference (readers.py:147-148). A radius
    * circle's cells wrap across ±180° and span every longitude when the
    * circle holds a pole ([[GeoExtent.circleBoxes]]). */
  final case class AroundPoint(lon: Double, lat: Double,
                               distance: Double = Double.NaN,
                               sizeDeg: Double = Double.NaN) extends SpatialQuery
  /** Exact polygon containment (beyond the reference's box/country
    * queries): directories prune to the cells whose rectangle actually
    * intersects the (padded) polygon — tighter than the bounding box for
    * concave shapes — then rows refine through the PNPOLY codegen
    * expression. */
  final case class ByPolygon(vertices: Seq[(Double, Double)],
                             padding: Double = 0.0) extends SpatialQuery

  /** Rows of `bucketDir` matching the query. A query whose cells hold no
    * data reads as no rows with the bucket's schema. */
  def read(spark: SparkSession, bucketDir: String,
           query: SpatialQuery = Everything,
           columns: Seq[String] = Nil,
           filters: Seq[Column] = Nil,
           nRows: Long = -1L,
           fileExtension: String = null,
           globPattern: String = null,
           regexPattern: String = null,
           x: String = "lon", y: String = "lat",
           timeColumns: Seq[String] = Seq("time")): DataFrame = {
    val p = BucketInfo.readPartitioning(bucketDir)

    // Partition-label strings must come back as strings (no hive partition
    // value type inference), and reference buckets written by pandas/pyarrow
    // carry NANOSECOND timestamps that must be read as long nanos. Both
    // flags live in a cloned reader session (graft.core.ReaderSession) so
    // the caller's session conf is untouched by this read.
    val rs = graft.core.ReaderSession(spark)

    // the candidate cell directories (None: the whole bucket) and the
    // exact row filter
    def byBox(box: Extent): (Option[Seq[String]], DataFrame => DataFrame) =
      (Some(p.directoriesByExtent(box)), SpatialFilters.filterByExtent(_, box, x, y))
    val (candidates, refine): (Option[Seq[String]], DataFrame => DataFrame) = query match {
      case Everything => (None, identity)
      case ByExtent(e, pad) => byBox(pad2(e, pad))
      case ByCountry(n, pad) => byBox(NamedExtents.country(n, pad))
      case ByContinent(n, pad) => byBox(NamedExtents.continent(n, pad))
      case AroundPoint(lon, lat, d, _) if !d.isNaN =>
        (Some(GeoExtent.circleBoxes(lon, lat, d).flatMap(p.directoriesByExtent)),
          SpatialFilters.filterAroundPoint(spark, _, lon, lat, d, x, y))
      case AroundPoint(lon, lat, _, s) => byBox(GeoExtent.aroundPoint(lon, lat, sizeDeg = s))
      case ByPolygon(vs, pad) =>
        (Some(p.directoriesForCells(p.partitionIndicesByPolygon(vs, pad))),
          SpatialFilters.filterByPolygon(_, vs, x, y))
    }
    // parallel exists() — candidates number in the hundreds and sequential
    // RPCs dominate on remote stores
    val roots = candidates.fold(Seq(bucketDir))(rel =>
      BucketFs.filterExisting(rel.map(r => s"$bucketDir/$r")))
    val dataExt = Option(fileExtension).getOrElse(".parquet")
    val byName = fileExtension != null || globPattern != null || regexPattern != null
    val inputs =
      if (byName) roots.flatMap(listFiles(_, dataExt, globPattern, regexPattern))
      else roots

    var df =
      if (inputs.nonEmpty) scan(rs, p, bucketDir, inputs, files = byName)
      else {
        require(query != Everything, s"no files match the filename filters in $bucketDir")
        // nothing selected: no rows, with the schema of one data file
        val one = firstFile(bucketDir, dataExt).getOrElse(
          throw new IllegalArgumentException(s"no data files in $bucketDir"))
        scan(rs, p, bucketDir, Seq(one), files = true).where(lit(false))
      }

    // nanos→timestamp conversion for declared time columns (see above)
    timeColumns.foreach { tc =>
      if (df.schema.exists(f => f.name == tc &&
          f.dataType == org.apache.spark.sql.types.LongType)) {
        df = df.withColumn(tc, expr(s"timestamp_micros($tc div 1000)"))
      }
    }

    df = refine(df)

    // user predicates (P3) then projection (P1) then limit (P2)
    filters.foreach { f => df = df.where(f) }
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    if (nRows >= 0) {
      // limit() takes an Int; a silent .toInt would wrap a >2^31 request
      // into a small (or negative) limit — refuse loudly instead
      require(nRows <= Int.MaxValue,
        s"nRows must be <= ${Int.MaxValue} (got $nRows); drop the limit to read all rows")
      df = df.limit(nRows.toInt)
    }
    df
  }

  /** Parquet scan of selected directories (or files) with the label
    * columns. Hive labels are partition columns, discovered under
    * `basePath`. Directory-flavor cells have no `level=` names to discover,
    * so the scan looks up files recursively and the labels are rebuilt
    * from the path segments. pathGlobFilter keeps non-parquet files (e.g.
    * the reference's bucket_info.yaml) out of a directory scan. */
  private def scan(rs: SparkSession, p: Partitioning2D, bucketDir: String,
                   paths: Seq[String], files: Boolean): DataFrame = {
    val directory = p.flavor.contains("directory")
    val r = if (directory) rs.read.option("recursiveFileLookup", "true")
            else rs.read.option("basePath", bucketDir)
    val d = (if (files) r else r.option("pathGlobFilter", "*.parquet")).parquet(paths: _*)
    if (!directory) d
    else {
      val parts = split(input_file_name(), "/")
      val n = p.order.length
      p.order.zipWithIndex.foldLeft(d) { case (acc, (level, i)) =>
        acc.withColumn(level, element_at(parts, -(n - i + 1)))
      }
    }
  }

  /** Recursive file listing with extension / glob / regex basename filters
    * (reference satbucket/utils/directories.py:75-121). Hadoop-FS based:
    * ONE recursive listing call — a flat LIST on object stores, RPC-batched
    * on HDFS — instead of a sequential driver walk (the reference
    * thread-pools its os.walk, directories.py:124-170; Hadoop's recursive
    * listing is the Spark-native equivalent). Local paths come back as
    * plain paths, remote ones as full URIs. */
  def listFiles(root: String, fileExtension: String = null,
                globPattern: String = null, regexPattern: String = null): Seq[String] = {
    val matcher = Option(globPattern).map(g =>
      FileSystems.getDefault.getPathMatcher(s"glob:$g"))
    val regex = Option(regexPattern).map(_.r)
    val (fs, rootPath) = BucketFs.resolve(root)
    BucketFs.listFileStatuses(fs, rootPath).iterator
      .filter(_.isFile)
      .map(_.getPath)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .filter { f =>
        val name = f.getName
        Option(fileExtension).forall(ext => name.endsWith(ext)) &&
        matcher.forall(_.matches(Paths.get(name))) &&
        regex.forall(_.pattern.matcher(name).lookingAt()) // re.match semantics
      }
      .map(display)
      .toSeq.sorted
  }

  /** The first data file of a depth-first walk, which stops there: a
    * schema source that never lists the whole bucket. */
  private def firstFile(root: String, fileExtension: String): Option[String] = {
    val (fs, rootPath) = BucketFs.resolve(root)
    def walk(d: Path): Option[Path] = {
      val (dirs, files) = fs.listStatus(d).filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }.partition(_.isDirectory)
      files.map(_.getPath).find(_.getName.endsWith(fileExtension))
        .orElse(dirs.iterator.flatMap(st => walk(st.getPath)).nextOption())
    }
    walk(rootPath).map(display)
  }

  /** Local paths as plain paths, remote ones as full URIs. */
  private def display(f: Path): String =
    if (f.toUri.getScheme == "file") f.toUri.getPath else f.toString

  /** Filepaths grouped by partition (reference get_filepaths_by_partition,
    * satbucket/io.py:110-126): keys are the last n-level relative partition
    * paths (`lon_bin=a/lat_bin=b` for hive flavor, `a/b` for directory
    * flavor), values the matching data files. One recursive listing. */
  def filepathsByPartition(bucketDir: String, fileExtension: String = null,
                           globPattern: String = null,
                           regexPattern: String = null): Map[String, Seq[String]] = {
    val p = BucketInfo.readPartitioning(bucketDir)
    val n = p.order.length
    listFiles(bucketDir, fileExtension, globPattern, regexPattern)
      .groupBy(f => f.split('/').dropRight(1).takeRight(n).mkString("/"))
  }

  private def pad2(e: Extent, pad: Double): Extent =
    if (pad == 0.0) e
    else Extent(e.xmin - pad, e.xmax + pad, e.ymin - pad, e.ymax + pad)
}

package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, ReaderSession}
import graft.sources.{BucketWriter, Merge}

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  *   Main --workload <point_reads|regional_cube> --seed <n>
  *        --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  *
  * Set-up generates granule files, ingests them into a granule bucket,
  * merges that into a monthly archive and checks the archive against the
  * generated rows. The run then warms up on queries of its own and repeats
  * the workload's timed operations 0, 1, 2, ..., in whole rounds of its
  * operation kinds, until they have taken `--seconds` in total. Every
  * operation's output is checked against a brute-force reference. The last
  * stdout line is the result JSON; with `--trace 1` it carries per-layer
  * metrics instead of end-to-end ones. */
object Main {
  val WarmupSeconds = 6.0
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")), m.get("trace-out").map(Paths.get(_)))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { println(new Runner(parse(args)).run()); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

final case class Build(rows: SwathRows, ingestS: Double, mergeS: Double, errors: Int)
final case class OpRec(op: Int, startNs: Long, endNs: Long, gcMs: Double) {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Runner(o: Main.Opts) {
  private val tracer = new Tracer(o.trace)
  Tracer.current = tracer
  private val workload = Workloads.byName(o.workload)
  private val jobs = new JobListener
  private val phases = scala.collection.mutable.Map.empty[Int, String]
  private var spark: SparkSession = _

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  private def nextOp(kind: String): Int = {
    val id = phases.size + 1
    phases(id) = kind
    tracer.op = id
    if (spark != null) spark.sparkContext.setLocalProperty(JobListener.OpKey, id.toString)
    id
  }

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  def run(): String = {
    Files.createDirectories(o.work)
    nextOp("setup")
    val (_, sessionS) = secondsOf {
      spark = tracer.span("core") {
        val b = GraftSession.builder(Main.Cores.toString, (2 * Main.Cores).toString, rawLocalFs = true)
          .config("spark.local.dir", o.work.resolve("spark-local").toString)
          .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
          .config("spark.hadoop.hadoop.tmp.dir", o.work.resolve("hadoop-tmp").toString)
        if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[TracingFileSystem].getName)
          .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
        val s = b.getOrCreate()
        ReaderSession(s)
        s
      }
    }
    spark.sparkContext.setLogLevel("ERROR")
    if (o.trace) spark.sparkContext.addSparkListener(jobs)

    // set-up: generate the granule files, ingest them, merge monthly
    nextOp("setup")
    val dir = o.work.resolve("data")
    val (build, buildS) = secondsOf {
      val ((r, files), genS) = secondsOf(tracer.span("generator") {
        val r = Swaths.generate(workload.shape, o.seed)
        (r, Swaths.writeGranules(r, dir.resolve("granules")))
      })
      val bucket = dir.resolve("bucket").toString
      val (errors, ingestS) = secondsOf(tracer.span("sources.bucket_writer") {
        BucketWriter.writeGranulesBucketDistributed(spark, files, bucket, workload.grid,
          Swaths.GranuleFileReader, Swaths.schema)
      })
      val (_, mergeS) = secondsOf(tracer.span("sources.merge") {
        Merge.mergeGranuleBuckets(spark, bucket, dir.resolve("archive").toString, "month")
      })
      log(f"set-up: generate+write $genS%.2f s, ingest $ingestS%.2f s, merge $mergeS%.2f s; " +
        s"granule files sha256 ${Swaths.digest(files)}")
      Build(r, ingestS, mergeS, errors.size)
    }
    val rows = build.rows
    val ctx = new Ctx(spark, rows, o.seed, dir, tracer)

    nextOp("check")
    val archived = Workloads.archiveDigest(ctx)
    val expected = Reference.digest(rows, rows.lon.indices.iterator)
    val setupOk = build.errors == 0 && archived == expected
    if (!setupOk) log(s"set-up check failed: archive $archived, reference $expected, ingest errors ${build.errors}")
    val storedBytes = parquetBytes(Paths.get(ctx.archive))
    log(s"${workload.name}: ${rows.size} rows in ${rows.granuleStart.length} granules, " +
      s"${parquetFiles(Paths.get(ctx.bucket))} granule-bucket files, " +
      s"${parquetFiles(Paths.get(ctx.archive))} archive files in ${cellDirs(Paths.get(ctx.archive))} cells")

    workload.prepare(ctx)
    // warm-up: untimed, unchecked operations until JIT and caches settle,
    // at least two whole rounds so every operation kind has run twice. They
    // draw from their own query stream, so how many run does not change
    // which queries are timed.
    var warmOps = 0
    val warm0 = System.nanoTime()
    while ((System.nanoTime() - warm0) / 1e9 < Main.WarmupSeconds || warmOps < 2 * workload.kinds ||
           warmOps % workload.kinds != 0) {
      nextOp("warmup")
      workload.op(ctx, warmOps, warmup = true)
      ctx.reads.clear()
      warmOps += 1
    }

    val ops = ArrayBuffer.empty[OpRec]
    var failed = 0
    var busyNs = 0L
    // whole rounds of operation kinds, so every run times the same mix
    while (busyNs < o.seconds * 1000000000L || ops.size % workload.kinds != 0) {
      val k = ops.size
      val id = nextOp("op")
      val gc0 = gcMs()
      val t0 = tracer.now()
      val check = try Right(tracer.span("op")(workload.op(ctx, k, warmup = false)))
                  catch { case e: Exception => Left(e) }
      val t1 = tracer.now()
      ops += OpRec(id, t0, t1, gcMs() - gc0)
      busyNs += t1 - t0
      nextOp("check")
      // plan statistics of the operation's reads, taken after its timer stops
      ctx.reads.foreach { case (df, q) => PlanStats.record(ctx, id, df, q) }
      ctx.reads.clear()
      val outcome = check match {
        case Right(c) => try c() catch { case e: Exception => Outcome(ok = false, s"check threw $e") }
        case Left(e) => Outcome(ok = false, s"operation threw $e")
      }
      if (!outcome.ok) {
        failed += 1
        if (failed <= 5) log(s"operation $k failed: ${outcome.detail}")
      }
    }
    log(s"$warmOps warm-up operations, ${ops.size} timed, $failed failed; latencies ms: " +
      ops.map(o => math.round(o.ms)).mkString(" "))

    val metrics =
      if (!o.trace) {
        val lat = ops.map(_.ms).sorted.toSeq
        // kinds differ in cost by up to 3x: the median of each kind, then
        // their mean, so a run's latency does not hinge on where the kinds
        // overlap in the pooled order
        val p50 = ops.zipWithIndex.groupBy(_._2 % workload.kinds).values
          .map(k => Stats.median(k.map(_._1.ms).toSeq)).sum / workload.kinds
        // reported on stderr only: too few operations per run for a steady
        // tail, and the JVM's resident size swings with heap sizing
        log(f"op_p90_ms ${Stats.quantile(lat, 0.9)}%.1f, ingest_rows_per_s ${rows.size / build.ingestS}%.0f, " +
          f"merge_rows_per_s ${rows.size / build.mergeS}%.0f, peak_rss_mb ${peakRssMb()}%.0f")
        Seq(
          ("setup_s", sessionS + buildS, "s"),
          ("op_p50_ms", p50, "ms"),
          ("stored_bytes_per_row", storedBytes.toDouble / rows.size, "B/row"))
      } else {
        org.apache.spark.graftbridge.ListenerBridge.drain(spark.sparkContext)
        val layers = new Layers(tracer, jobs.all, jobs.allStages, PlanListener.queries.asScala.toSeq,
          phases.toMap, ops.toSeq)
        println(layers.table(workload.name))
        o.traceOut.foreach(layers.write)
        layers.metrics
      }
    nextOp("check")
    log(Workloads.antimeridianProbe(ctx, workload.radiusM))
    spark.stop()
    deleteTree(o.work)
    Stats.json(setupOk, ops.size, failed, metrics)
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator.asScala.toSeq finally s.close() }
  private def parquetFiles(p: Path): Int = walk(p).count(_.toString.endsWith(".parquet"))
  private def parquetBytes(p: Path): Long =
    walk(p).filter(_.toString.endsWith(".parquet")).map(Files.size).sum
  private def cellDirs(p: Path): Int =
    walk(p).count(f => Files.isDirectory(f) && f.getFileName.toString.startsWith("lat_bin="))

  private def deleteTree(p: Path): Unit =
    walk(p).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

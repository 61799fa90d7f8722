package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Run context shared by the workloads: arguments, work directory, the
  * current Spark session, the tracer and the run record.
  */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: Path) {
  val heap = new HeapWatch
  val record = mutable.LinkedHashMap.empty[String, Any]
  private val t0 = System.nanoTime()
  private val phases = mutable.LinkedHashMap.empty[String, Double]

  /** Note that phase `name` ended now (seconds since the run started). */
  def phaseEnd(name: String): Unit = {
    phases(name) = Run.secs(t0)
    record("phase_end_s") = phases.toMap
  }
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var spark: SparkSession = _
  var tracer = new Tracer(false)
  var counts: Option[SparkCounts] = None

  /** Start (or restart) the local[4] session the engine runs in. */
  def startSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${Run.Cores}]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Run.Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.spark.GraftExtensions.register(spark)
    spark
  }

  /** Switch tracing on for the rest of the run: a fresh tracer whose
    * spans set Spark job groups, and a listener counting per span.
    */
  def startTracing(): Unit = {
    tracer = new Tracer(true)
    tracer.bind(spark.sparkContext)
    val c = new SparkCounts
    spark.sparkContext.addSparkListener(c)
    counts = Some(c)
  }

  /** One attempted operation; a thrown exception is recorded as failed. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** One output check: counted as attempted, and failed when false. */
  def check(what: String)(ok: => Boolean): Unit =
    attempt(what)(ok).foreach(good => if (!good) failures += s"check failed: $what")

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

object Run {
  val Cores = 4

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Total size in bytes of the regular files under `root`. */
  def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** (relative path -> (size, mtime)) of the regular files under `root`. */
  def treeListing(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try {
        val it = s.filter(Files.isRegularFile(_)).iterator()
        val out = Map.newBuilder[String, (Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          out += p.relativize(f).toString ->
            ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
        }
        out.result()
      } finally s.close()
    }
  }

  def rmTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}

/** Benchmark harness entry:
  *   graft.perfbench.Main <serve|catalog> <seed> <seconds> <0|1> <workDir> <outJson>
  * Runs one workload in-process through the engine's public API and
  * writes the run record (samples, checks, spans) to `outJson`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, workDir, out) = args
    val run = new Run(workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(workDir).toAbsolutePath)
    Files.createDirectories(run.work)
    workload match {
      case "serve"   => Serve.run(run)
      case "catalog" => Catalog.run(run)
      case other     => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    if (run.spark != null) org.apache.spark.PerfbenchBus.drain(run.spark.sparkContext)
    run.record("attempted") = run.attempted
    run.record("failures") = run.failures.toSeq
    if (run.traced) run.record("spans") = run.tracer.records(run.counts)
    Files.writeString(Paths.get(out), Json.render(run.record))
    if (run.spark != null) run.spark.stop()
  }
}

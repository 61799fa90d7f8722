package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.{SparkEntry, SparkEntryExtra}

/** `catalog`: every `SparkEntry.queries` entry over seeded tables, in
  * name order. A warm pass runs first, then timed passes until `seconds`
  * have passed; the search memo is cleared before every query, as
  * `graft.Bench` does, so each query executes the work it names. Traced
  * runs add one more pass in which every query also runs with spans.
  */
object Catalog {
  val SetupReps = 3
  /** Queries whose results are compared with their DuckDB oracle per run.
    * All 50 oracles take about 80 s of DuckDB time, more than a run may
    * take, so each run checks a seeded sample.
    */
  val OracleSample = 3

  private def generate(r: Run, dir: String): Unit = {
    val p = new ProcessBuilder("python3", "perfbench/gen_catalog.py",
      "--seed", r.seed.toString, "--out", dir).inheritIO().start()
    val code = p.waitFor()
    require(code == 0, s"gen_catalog.py exited with $code")
  }

  private val queries = SparkEntry.queries.toSeq.sortBy(_._1)

  /** Run one query; its count, or -1 when it threw. */
  private def one(r: Run, dir: String, name: String, req: Int,
                  fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
                  withSpans: Boolean): (String, Double, Long) = {
    SparkEntryExtra.clearSearchMemo()
    val t0 = System.nanoTime()
    val rows = r.attempt(s"catalog $name") {
      if (withSpans) r.tracer.span(s"catalog.$name", req)(fn(r.spark, dir).count())
      else fn(r.spark, dir).count()
    }
    (name, Run.ms(t0), rows.getOrElse(-1L))
  }

  private def render(p: Seq[(String, Double, Long)]): Seq[Map[String, Any]] =
    p.map { case (n, ms, rows) => Map("name" -> n, "ms" -> ms, "rows" -> rows) }

  def run(r: Run): Unit = {
    val setups = mutable.ArrayBuffer.empty[Double]
    val data = r.dir("catalog-data")
    for (_ <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      r.startSession()
      generate(r, data)
      setups += Run.secs(t0)
    }
    r.record("setup_s") = setups.toSeq
    r.record("data_dir") = data
    r.phaseEnd("setup")

    def pass(req: Int) = queries.map { case (name, fn) => one(r, data, name, req, fn, withSpans = false) }
    val warm = pass(-1)
    r.phaseEnd("warm")

    val gc0 = r.heap.gcMs
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double, Long)]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || Run.secs(t0) < r.seconds) passes += pass(passes.length)
    r.record("timed_wall_s") = Run.secs(t0)
    r.record("gc_ms") = r.heap.gcMs - gc0
    r.record("heap_live_mb") = r.heap.liveMb()
    r.record("passes") = passes.toSeq.map(render)
    r.phaseEnd("timed")

    val warmRows = warm.map(q => q._1 -> q._3).toMap
    for ((name, _, rows) <- passes.flatten)
      r.check(s"catalog $name: timed count $rows == warm-pass count ${warmRows(name)}") {
        rows == warmRows(name)
      }

    if (r.traced) {
      // each query untraced and with spans, the order alternating: the
      // second run of a query reuses the first one's generated code
      r.startTracing()
      val untraced = mutable.ArrayBuffer.empty[(String, Double, Long)]
      val traced = mutable.ArrayBuffer.empty[(String, Double, Long)]
      for (((name, fn), i) <- queries.zipWithIndex) {
        if (i % 2 == 1) traced += one(r, data, name, 0, fn, withSpans = true)
        untraced += one(r, data, name, 0, fn, withSpans = false)
        if (i % 2 == 0) traced += one(r, data, name, 0, fn, withSpans = true)
      }
      r.record("traced_runs") = render(traced.toSeq)
      r.record("untraced_runs") = render(untraced.toSeq)
      r.phaseEnd("traced")
    }

    // result files of the oracle sample, as graft.Verify writes them
    val out = r.dir("catalog-out")
    val sample = new scala.util.Random(r.seed).shuffle(queries.map(_._1)).take(OracleSample).toSet
    for ((name, fn) <- queries if sample(name))
      r.attempt(s"catalog $name (result write)") {
        fn(r.spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter(e => sample(e._1))))
    r.record("out_dir") = out
    r.phaseEnd("checks")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** SparkEntry's parquet-handle registry keeps at most one session alive:
  * once another session asks for a table, the previous one can be
  * collected.
  */
class TableRegistrySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("tableFor releases a session once another session asks") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-reg").toString + "/t.parquet"
    Seq(1L, 2L).toDF("id").write.parquet(path)
    def firstUse(): java.lang.ref.WeakReference[SparkSession] = {
      val first = spark.newSession()
      assert(SparkEntry.tableFor(first, path).columns.toSeq == Seq("id"))
      new java.lang.ref.WeakReference(first)
    }
    val ref = firstUse()
    assert(SparkEntry.tableFor(spark.newSession(), path).columns.toSeq == Seq("id"))
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assert(ref.get == null, "the first session is still reachable")
  }
}

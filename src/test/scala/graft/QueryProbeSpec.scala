package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The scale probe's amplifier must scale every table the way a real
  * N× corpus would: fact, event and corpus tables N× the rows, dims
  * untouched, FK joins N× the join rows (no cross-copy matches), ids
  * unique, and derived columns still consistent with what they
  * derive from. */
class QueryProbeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val base = "/root/testdata/sf0.001"
  private lazy val amp = {
    val out = Files.createTempDirectory("graft_amp").resolve("x2").toString
    QueryProbe.amplify(spark, base, out, 2)
    out
  }
  private def t(dir: String, n: String): DataFrame =
    spark.read.parquet(s"$dir/$n.parquet")

  test("fact, event and corpus tables double; dimension tables are unchanged") {
    Seq("orders", "lineitem", "customer", "events", "documents", "embeddings")
      .foreach { n =>
        assert(t(amp, n).count() == 2 * t(base, n).count(), n)
      }
    Seq("nation", "region", "supplier", "part").foreach { n =>
      val (a, b) = (t(amp, n), t(base, n))
      assert(a.count() == b.count() && a.exceptAll(b).isEmpty &&
        b.exceptAll(a).isEmpty, n)
    }
  }

  test("FK joins double their join rows: no copy matches another copy") {
    def joins(dir: String) = {
      val o = t(dir, "orders")
      (o.join(t(dir, "lineitem"), col("o_orderkey") === col("l_orderkey")).count(),
        o.join(t(dir, "customer"), col("o_custkey") === col("c_custkey")).count())
    }
    val (ol, oc) = joins(base)
    assert(ol > 0 && oc > 0)
    assert(joins(amp) == ((2 * ol, 2 * oc)))
  }

  test("doc_id, vec_id and event_id stay unique") {
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")
      .foreach { case (n, id) =>
        val df = t(amp, n)
        assert(df.select(id).distinct().count() == df.count(), id)
      }
  }

  test("n_chars = length(text) holds on every amplified document") {
    def broken(dir: String) = t(dir, "documents")
      .filter(!(col("n_chars") <=> length(col("text")))).count()
    assert(broken(base) == 0)
    assert(broken(amp) == 0)
  }

  test("a dir holding _READY is reused, not rebuilt") {
    val stamp = Files.getLastModifiedTime(
      java.nio.file.Paths.get(amp, "documents.parquet"))
    QueryProbe.amplify(spark, base, amp, 2)
    assert(Files.getLastModifiedTime(
      java.nio.file.Paths.get(amp, "documents.parquet")) == stamp)
  }
}

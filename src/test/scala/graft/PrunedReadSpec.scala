package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.lake.{BloomIndex, TableLog, TextIndex}
import java.nio.file.Files

/** Every pruned-read probe opens exactly the files its pruneReport
  * says it keeps: the read and the report share one per-file
  * predicate. */
class PrunedReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 4 commits × 2 files; commit c holds ids [100c, 100c + 99], and one
    * doc carries a rare phrase. */
  private lazy val path = {
    val p = Files.createTempDirectory("graft_pruned").resolve("t").toString
    val rows = (0L until 400L).map { i =>
      (i, if (i == 137L) s"common text with zebra quartz $i"
        else s"common text number $i")
    }.toDF("id", "text")
    (0 until 4).foreach { c =>
      TableLog.commitAppend(spark, p,
        rows.filter(col("id").between(100L * c, 100L * c + 99)).repartition(2))
    }
    BloomIndex.ensure(spark, p, Seq("id"))
    TextIndex.ensure(spark, p, Seq("text"))
    p
  }

  private def opened(df: org.apache.spark.sql.DataFrame) = df.inputFiles.length

  test("range, set, point and substring reads open the kept files only") {
    val (rk, rt) = TableLog.pruneReport(spark, path, "id", 120L, 180L)
    assert(rk == 2 && rt == 8)
    assert(opened(TableLog.readWhere(spark, path, "id", 120L, 180L)) == rk)

    val (ik, _) = TableLog.pruneReportIn(spark, path, "id", Seq(5L, 350L))
    assert(ik == 4)
    assert(opened(TableLog.readWhereIn(spark, path, "id", Seq(5L, 350L))) == ik)

    val (ranged, ek, _) = TableLog.pruneReportEq(spark, path, "id", 250L)
    assert(ranged == 2 && ek >= 1 && ek <= ranged)
    assert(opened(TableLog.readWhereEq(spark, path, "id", 250L)) == ek)

    val (ck, _) = TableLog.pruneReportContains(spark, path, "text", "zebra quartz")
    assert(ck >= 1 && ck < 8)
    val hit = TableLog.readWhereContains(spark, path, "text", "zebra quartz")
    assert(opened(hit) == ck)
    assert(hit.select("id").as[Long].collect().toSeq == Seq(137L))
  }
}

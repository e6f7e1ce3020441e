package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import graft.io.Sources
import graft.lake.{Catalog, TableLog}
import graft.pipeline.Lakehouse
import graft.quality.Expectations

/** One finished client operation. */
final case class Sample(phase: String, round: Int, kind: String, name: String,
    ms: Double, ok: Boolean, error: String)

/** The one closed-loop client: the next op starts only when the last one
  * has finished. Tags every Spark job with the op id, times the op, and
  * releases what the op cached after the timed interval, as the
  * repository's own bench does between queries. */
final class Client(val spark: SparkSession, var tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[Sample]
  val cacheBytes = mutable.ArrayBuffer.empty[Long]
  val cacheBlocks = mutable.ArrayBuffer.empty[Long]
  val opStartMs = mutable.Map.empty[Int, (Long, Long)]
  var phase = ""
  var round = 0
  private var nextOp = 0

  def op(kind: String, name: String)(body: => Unit): Boolean = {
    val id = nextOp
    nextOp += 1
    tracer.op = id
    spark.sparkContext.setLocalProperty(Listener.OpKey, id.toString)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try { tracer.span("op")(body); "" }
      catch { case e: Throwable =>
        s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
    val ms = (System.nanoTime() - t0) / 1e6
    opStartMs(id) = (wall0, System.currentTimeMillis())
    tracer.op = -1
    spark.sparkContext.setLocalProperty(Listener.OpKey, null)
    if (tracer.enabled) {
      val info = spark.sparkContext.getRDDStorageInfo
      cacheBytes += info.map(i => i.memSize + i.diskSize).sum
      cacheBlocks += info.map(_.numCachedPartitions.toLong).sum
    }
    spark.catalog.clearCache()
    samples += Sample(phase, round, kind, name, ms, err.isEmpty, err)
    if (err.nonEmpty) System.err.println(s"[graftbench] $kind $name failed: $err")
    err.isEmpty
  }

  /** Materialize `df` the way a user of the result would, splitting the
    * traced run at Catalyst's phases: the analyzed plan already exists,
    * so force the optimized plan, then the physical plan, then execute
    * that same plan. The untraced run uses the plain public call. */
  def execute(df: => DataFrame, untraced: DataFrame => Unit,
      traced: (DataFrame, org.apache.spark.sql.execution.QueryExecution) => Unit): Unit =
    if (!tracer.enabled) untraced(df)
    else {
      val d = tracer.span("entry.construct")(df)
      val qe = d.queryExecution
      tracer.span("catalyst.optimize")(qe.optimizedPlan)
      tracer.span("catalyst.physical")(qe.executedPlan)
      tracer.span("exec")(SQLExecution.withNewExecutionId(qe, Some("graftbench"))(traced(d, qe)))
    }
}

trait Workload {
  /** Inputs a direct io call can open, for `io.table_ms`. */
  def openInputs(spark: SparkSession): Seq[() => Unit]
  /** Set-up repetition `rep`: one untimed pass over the whole op list. */
  def warmup(spark: SparkSession, rep: Int): Unit
  /** One pass over the workload's op list. */
  def round(c: Client, r: Int): Unit
  /** Untimed work after the measured phases: output dumps and the
    * numbers the output checks need. */
  def finish(spark: SparkSession): Map[String, Any]
}

/** A fixed list of registered queries, each run once per round in a
  * seed-shuffled order and materialized to the `noop` sink. Set-up
  * writes each query's result to `dump/<query>`, and `finish` adds the
  * DuckDB oracle SQL, for the output check. */
final class QueryWorkload(names: Seq[String], data: String, work: String,
    seed: Long) extends Workload {
  private val fns = names.map(n => n -> SparkEntry.queries(n))
  private val dump = s"$work/dump"

  def openInputs(spark: SparkSession): Seq[() => Unit] =
    Sources.tableNames.map(t => () => { Sources.table(spark, data, t); () })

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every set-up repetition writes each query's result to
    * `dump/<query>`; the output check reads the last repetition's. */
  def warmup(spark: SparkSession, rep: Int): Unit =
    fns.foreach { case (n, f) =>
      try f(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      catch { case e: Throwable =>
        System.err.println(s"[graftbench] set-up $n failed: ${e.getMessage}") }
      finally spark.catalog.clearCache()
    }

  def round(c: Client, r: Int): Unit =
    new Random(seed * 1000003L + r).shuffle(fns).foreach { case (n, f) =>
      c.op("query", n)(c.execute(f(c.spark, data), noop,
        (_, qe) => qe.toRdd.foreach(_ => ())))
    }

  def finish(spark: SparkSession): Map[String, Any] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dump))
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
      Json.render(oracle))
    Map("dump" -> dump)
  }
}

/** The lakehouse write path. A round is one lake cycle: a fresh lake
  * root takes `drops` raw drops through the reference pipeline; after
  * each drop the client makes a point read, a read of an earlier
  * version and a read as of an earlier commit time, and every
  * `optimizeEvery` drops it optimizes the fact. Untraced, a drop is one
  * `Lakehouse.run` call; traced, the benchmark drives the public steps
  * `Lakehouse.run` is made of, one span each. */
final class PipelineWorkload(dropDir: String, drops: Int, stores: Int,
    optimizeEvery: Int, work: String, seed: Long) extends Workload {
  import Lakehouse.{CatalogTable, FactTable, LineageTable}
  private val domains = Seq("erp_orders", "crm_leads", "products", "web_events")
  private def drop(d: Int) = f"$dropDir/drop_$d%03d"

  /** Per round: its lake root, fact version -> drop index, the reads
    * made, bytes written through the Hadoop file system. */
  final case class Cycle(root: String, phase: String, traced: Boolean,
      versions: mutable.LinkedHashMap[Int, Int] = mutable.LinkedHashMap.empty,
      reads: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty,
      var bytesWritten: Long = 0L)
  val cycles = mutable.ArrayBuffer.empty[Cycle]
  val readFiles = mutable.ArrayBuffer.empty[Int]

  def openInputs(spark: SparkSession): Seq[() => Unit] =
    domains.map(d => () => { Lakehouse.ingest(spark, drop(0), d); () })

  /** Set-up repetition `rep` takes one whole lake cycle, reads and
    * optimizes included, into a lake root of its own. */
  def warmup(spark: SparkSession, rep: Int): Unit = {
    val c = new Client(spark, new Tracer(false))
    val cy = Cycle(s"$work/warmup_lake_$rep", "warmup", traced = false)
    (0 until drops).foreach(d => step(c, cy, d, new Random(seed + d)))
  }

  private def bytesWritten: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  private def runDrop(c: Client, d: Int, root: String): Unit = {
    val t = c.tracer
    if (!t.enabled) Lakehouse.run(c.spark, drop(d), lakeDir = Some(root))
    else TableLog.withRunId(java.util.UUID.randomUUID().toString) {
      val staged = domains.map { dom =>
        val raw = t.span("quality.validate") {
          val raw = Lakehouse.ingest(c.spark, drop(d), dom)
          Expectations.validateOrThrow(raw, Lakehouse.suites(dom))
          raw
        }
        dom -> t.span("staging.stage") {
          val s = Lakehouse.stage(dom, raw)
          s.createOrReplaceTempView(s"stg_$dom")
          s
        }
      }.toMap
      val fact = t.span("marts.fact")(Lakehouse.buildFact(
        staged("erp_orders"), staged("crm_leads"), staged("web_events")))
      t.span("lake.merge")(Lakehouse.publishFactToLake(c.spark, fact, s"$root/$FactTable"))
      t.span("lake.catalog")(Catalog.publish(c.spark,
        Map(FactTable -> s"$root/$FactTable"), s"$root/$CatalogTable",
        lineagePath = Some(s"$root/$LineageTable")))
    }
  }

  private def read(c: Client, cy: Cycle, kind: String, info: Map[String, Any])(
      df: => DataFrame): Unit = {
    var rows = -1L
    c.op("read", kind)(c.execute(df, d => rows = d.collect().length.toLong,
      (d, qe) => {
        rows = qe.executedPlan.executeCollect().length.toLong
        readFiles += d.inputFiles.length
      }))
    cy.reads += info ++ Map("kind" -> kind, "rows" -> rows)
  }

  def round(c: Client, r: Int): Unit = {
    val cy = Cycle(s"$work/lake_${c.phase}_$r", c.phase, c.tracer.enabled)
    cycles += cy
    val rng = new Random(seed * 7919L + r)
    val w0 = bytesWritten
    (0 until drops).foreach(d => step(c, cy, d, rng))
    cy.bytesWritten = bytesWritten - w0
  }

  /** Drop `d` into the cycle's lake, then the reads that follow it and,
    * every `optimizeEvery` drops, an optimize. Between ops, untimed,
    * record which drop each fact version holds. */
  private def step(c: Client, cy: Cycle, d: Int, rng: Random): Unit = {
    val fact = s"${cy.root}/$FactTable"
    def latest(): Unit =
      TableLog.latestVersion(c.spark, fact).foreach(v => cy.versions(v) = d)
    c.op("drop", s"drop_$d")(runDrop(c, d, cy.root))
    latest()
    if (c.tracer.enabled) c.tracer.span("lake.history")(TableLog.history(c.spark, fact))
    val store = f"store_${rng.nextInt(stores)}%03d"
    val v = TableLog.latestVersion(c.spark, fact).getOrElse(-1)
    read(c, cy, "point", Map("version" -> v, "store" -> store))(
      TableLog.readWhereEq(c.spark, fact, "store_id", store))
    val vs = cy.versions.keys.toIndexedSeq
    val old = vs(rng.nextInt(vs.size))
    read(c, cy, "version", Map("version" -> old))(TableLog.read(c.spark, fact, Some(old)))
    val hist = TableLog.history(c.spark, fact)
    val at = hist(rng.nextInt(hist.size))
    val ts = at.timestampMs.getOrElse(0L)
    read(c, cy, "asof", Map("version" -> at.version,
      "resolved" -> TableLog.versionAsOf(c.spark, fact, ts).getOrElse(-1)))(
      TableLog.readAsOf(c.spark, fact, ts))
    if ((d + 1) % optimizeEvery == 0) {
      c.op("optimize", s"optimize_$d")(c.tracer.span("lake.optimize")(
        TableLog.commitOptimize(c.spark, fact, ("order_count", "sessions"), 2)))
      latest()
    }
  }

  private def du(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty).map(du).sum

  /** Bytes of the files the latest snapshot of `path` references. */
  private def liveBytes(spark: SparkSession, path: String): Long =
    TableLog.history(spark, path).lastOption.toSeq.flatMap(_.dirs)
      .map(dir => Option(new java.io.File(s"$path/$dir").listFiles)
        .getOrElse(Array.empty).filter(f => f.getName.endsWith(".parquet"))
        .map(_.length).sum).sum

  def finish(spark: SparkSession): Map[String, Any] = {
    val last = cycles.last
    val lastFact = s"${last.root}/$FactTable"
    val finalDir = s"$work/final_fact"
    TableLog.read(spark, lastFact).coalesce(1).write.mode("overwrite").parquet(finalDir)
    // A traced cycle drives Lakehouse.run's steps one by one; it must
    // leave the same snapshot as the untraced cycle that called run.
    val stepsMatch = cycles.find(!_.traced).zip(cycles.find(_.traced)).map { case (a, b) =>
      val (x, y) = (TableLog.read(spark, s"${a.root}/$FactTable"),
        TableLog.read(spark, s"${b.root}/$FactTable"))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    val snap = TableLog.history(spark, lastFact).last
    Map(
      "final_fact" -> finalDir,
      "steps_match" -> stepsMatch.getOrElse(true),
      "fact_versions" -> TableLog.history(spark, lastFact).size,
      "fact_dirs_live" -> snap.dirs.size,
      "read_files" -> (if (readFiles.isEmpty) 0.0 else readFiles.sum.toDouble / readFiles.size),
      "cycles" -> cycles.map { cy =>
        Map(
          "phase" -> cy.phase,
          "traced" -> cy.traced,
          "versions" -> cy.versions.map { case (v, d) => v.toString -> d }.toMap,
          "reads" -> cy.reads.toSeq,
          "bytes_written" -> cy.bytesWritten,
          "bytes_on_disk" -> du(new java.io.File(cy.root)),
          "live_bytes" -> Seq(FactTable, CatalogTable, LineageTable)
            .map(t => liveBytes(spark, s"${cy.root}/$t")).sum,
          "fact_live_bytes" -> liveBytes(spark, s"${cy.root}/$FactTable"))
      }.toSeq)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case p: Product => render(p.productElementNames.zip(p.productIterator).toMap)
    case other => str(other.toString)
  }
}

package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side: set up, run the timed phase(s) with one
  * closed-loop client, write the run record as JSON.
  *
  * Arguments are `key=value`: workload, data, work, seconds, trace (0|1),
  * seed, cpus, src (the repository's Scala source root, to map job call
  * sites to modules), and per workload `queries` (comma-separated) or
  * `drops`, `stores`, `optimize_every`. */
object Main {
  /** Set-up is repeated this many times and reported as the median. */
  val SetupReps = 3
  /** A timed phase runs at least this many rounds, and at least
    * `seconds`; its round time is reported as the median. */
  val MinRounds = 3

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val seed = a("seed").toLong
    val cpus = a("cpus").toInt
    val bootMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = a("workload") match {
      case "pipeline" => new PipelineWorkload(a("data"), a("drops").toInt,
        a("stores").toInt, a("optimize_every").toInt, work, seed)
      case "queries" => new QueryWorkload(a("queries").split(",").toSeq, a("data"),
        work, seed)
    }

    // Set-up: each repetition builds a fresh session and runs the whole
    // op list once, untimed, so every repetition pays session start-up
    // plus each op's first run in that session. The first repetition
    // also pays JVM class loading and JIT compilation.
    val buildMs, warmMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = GraftSession.local(cpus)
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      workload.warmup(spark, rep)
      buildMs += (t1 - t0) / 1e6
      warmMs += (System.nanoTime() - t1) / 1e6
    }

    val client = new Client(spark, new Tracer(false))
    val rounds = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val gcPhase = mutable.LinkedHashMap.empty[String, Long]
    def phase(name: String): Unit = {
      client.phase = name
      val rs = mutable.ArrayBuffer.empty[Double]
      val gc0 = gcMs
      val t0 = System.nanoTime()
      while (rs.size < MinRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
        client.round = rs.size
        val r0 = System.nanoTime()
        workload.round(client, rs.size)
        rs += (System.nanoTime() - r0) / 1e6
      }
      rounds(name) = rs.toSeq
      gcPhase(name) = gcMs - gc0
    }
    phase("untraced")

    val record = mutable.LinkedHashMap[String, Any](
      "boot_ms" -> bootMs, "build_ms" -> buildMs.toSeq, "warmup_ms" -> warmMs.toSeq)
    // The traced run repeats the timed phase with spans and a listener;
    // the untraced phase before it gives the tracing overhead.
    if (traceRun) {
      val listener = new Listener(Listener.moduleMap(a("src"),
        Seq("Main.scala", "Workloads.scala", "Trace.scala")))
      spark.sparkContext.addSparkListener(listener)
      val traced = new Tracer(true)
      client.tracer = traced
      workload.openInputs(spark).foreach(open => traced.span("io.table")(open()))
      phase("traced")
      listener.drain(spark.sparkContext)
      record("layers") = layers(traced, client, listener, cpus)
      record("self_times") = traced.selfTimes.map { case (n, ms, k) =>
        Map("span" -> n, "self_ms" -> ms, "count" -> k) }
      val out = new java.io.PrintWriter(s"$work/spans.jsonl")
      try traced.spans.foreach(s => out.println(Json.render(s)))
      finally out.close()
    }
    record("gc_ms") = gcPhase.toMap
    record("rounds_ms") = rounds.toMap
    record("samples") = client.samples.toSeq
    record("checks") = workload.finish(spark)
    Files.writeString(Paths.get(s"$work/record.json"), Json.render(record))
    spark.stop()
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Per-layer numbers of the traced phase. Span times are the mean per
    * call; Spark counts are the mean per op. */
  private def layers(t: Tracer, c: Client, l: Listener, cpus: Int): Map[String, Double] = {
    val ops = c.samples.count(_.phase == "traced").max(1).toDouble
    val traced = l.byOp.filter(_._1 >= 0).values
    def sum(f: OpCounts => Long) = traced.map(f).sum.toDouble
    def perOp(f: OpCounts => Long) = sum(f) / ops
    val mb = 1024.0 * 1024.0
    val opMs = t.total("op")._1
    val ioJobs = traced.map(_.jobsBy("io")).sum
    // jobs submitted while a registered function built its frame
    val construct = t.spans.filter(_.name == "entry.construct")
      .map(s => (t.wallMs(s.startNs), t.wallMs(s.endNs)))
    val constructJobs = l.jobTimes.count { case (op, ms) =>
      op >= 0 && construct.exists { case (s, e) => ms >= s && ms <= e } }
    // streaming batches, matched to the op whose interval holds them
    val opWindows = c.opStartMs
    val batches = l.batches.filter(b => opWindows.values.exists { case (s, e) =>
      b.startMs >= s && b.startMs <= e })
    val streamOps = opWindows.count { case (_, (s, e)) =>
      batches.exists(b => b.startMs >= s && b.startMs <= e) }
    def bmean(f: StreamBatch => Double) =
      if (batches.isEmpty) 0.0 else batches.map(f).sum / batches.size
    val base = Map(
      "io.table_ms" -> t.mean("io.table"),
      "io.infer_jobs" -> ioJobs / ops,
      "entry.construct_ms" -> t.mean("entry.construct"),
      "entry.construct_jobs" -> (if (construct.isEmpty) 0.0 else constructJobs.toDouble / construct.size),
      "catalyst.optimize_ms" -> t.mean("catalyst.optimize"),
      "catalyst.physical_ms" -> t.mean("catalyst.physical"),
      "exec.ms" -> t.mean("exec"),
      "exec.jobs" -> perOp(_.jobs),
      "exec.stages" -> perOp(_.stages),
      "exec.tasks" -> perOp(_.tasks),
      "exec.cpu_ms" -> sum(_.cpuNs) / 1e6 / ops,
      "exec.run_ms" -> perOp(_.runMs),
      "exec.cpu_util" -> (if (opMs == 0) 0.0 else sum(_.cpuNs) / 1e6 / (opMs * cpus)),
      "exec.gc_ms" -> perOp(_.gcMs),
      "exec.scan_mb" -> perOp(_.scanBytes) / mb,
      "exec.shuffle_read_mb" -> perOp(_.shuffleRead) / mb,
      "exec.shuffle_write_mb" -> perOp(_.shuffleWrite) / mb,
      "exec.spill_mb" -> perOp(_.spill) / mb,
      "exec.peak_mem_mb" -> (if (traced.isEmpty) 0.0 else traced.map(_.peakMem).max / mb),
      "cache.bytes_held" -> (if (c.cacheBytes.isEmpty) 0.0 else c.cacheBytes.sum.toDouble / c.cacheBytes.size),
      "cache.blocks_held" -> (if (c.cacheBlocks.isEmpty) 0.0 else c.cacheBlocks.sum.toDouble / c.cacheBlocks.size),
      "streaming.batches" -> (if (streamOps == 0) 0.0 else batches.size.toDouble / streamOps),
      "streaming.batch_ms" -> bmean(_.triggerMs),
      "streaming.planning_ms" -> bmean(_.planningMs),
      "streaming.wal_ms" -> bmean(_.walMs),
      "quality.validate_ms" -> t.mean("quality.validate"),
      "staging.stage_ms" -> t.mean("staging.stage"),
      "marts.fact_ms" -> t.mean("marts.fact"),
      "lake.merge_ms" -> t.mean("lake.merge"),
      "lake.catalog_ms" -> t.mean("lake.catalog"),
      "lake.optimize_ms" -> t.mean("lake.optimize"),
      "lake.history_ms" -> t.mean("lake.history"))
    val modules = Seq("io", "lake", "operators", "quality", "streaming", "pipeline",
      "entry", "async")
    base ++ modules.map(m => s"jobs.$m" -> traced.map(_.jobsBy(m)).sum / ops)
  }
}

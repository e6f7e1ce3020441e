package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: time one or more named queries at a given sf dir and/or
  * print plans, optionally at amplified copies of that dir. Not the
  * bench contract (that is [[Bench]]) — this is the per-query
  * optimization loop and the scale probe:
  *
  *   runMain graft.QueryProbe <name[,name...]> <sfDir> [explain|schema|show] [xN[,xM...]]
  *
  * Timing methodology matches Bench (guide §1.4): the action is a
  * noop-sink write (count() would let Catalyst drop sorts and prune
  * the projection — probing a shallower plan than the one Bench
  * times), the plan is the registered `SparkEntry.queries` one, the
  * session is the same GraftSession.local (extensions, AQE, shuffle
  * partitions = cpus) and each rep clears the cache the way Bench does
  * between queries. SPARK_GRAFT_REPS reps per query (default 3); the
  * MIN is the steady-state number (same rationale as close.sh's
  * min-of-N: shared-box contention swings single passes).
  *
  * Scale probe: given factors (`x10` or `x10,x30`), each factor's
  * amplified table dir is built once by [[amplify]] (reused through
  * its `_READY` marker), and every query is timed at the base dir and
  * at each factor. The row prints `base_s`, `xN_s` and the ratio
  * against the ideal N: a ratio ≪ N means fixed overhead still
  * dominates; ≫ N is a superlinearity, the thing that kills a 100 TB
  * run.
  */
object QueryProbe {

  /** Amplify every table the queries read `factor`× from `srcDir` into
    * `outDir`, with foreign keys shifted consistently so join semantics
    * scale honestly:
    *
    *  - events: event_id/user_id shift per copy → N× more users with
    *    the same per-user stream shape (navigation graphs, sessions,
    *    and per-user aggregates scale in user count, not depth);
    *  - orders/lineitem/customer: o_orderkey=l_orderkey and
    *    o_custkey=c_custkey shift TOGETHER so FK joins stay 1:N;
    *  - documents: doc_id shift + per-copy token suffix → copies are
    *    DISJOINT in shingle space (near-dup structure per copy is
    *    preserved; copies are not mutual near-dups — else LSH pays
    *    C(N,2) artifactual pairs that say nothing about corpus scale);
    *    n_chars is recomputed so `n_chars = length(text)` still holds;
    *  - embeddings: vec_id shift + a per-copy nudge on dimension 0 so
    *    copies are near but not exact duplicates (exact ties make
    *    top-k cuts degenerate);
    *  - dimension tables (nation/region/supplier/part): copied as-is.
    *
    * Each shift is one past the largest key on EITHER side of its join,
    * so no copy's keys reach into another copy's range. A dir holding
    * `_READY` was built by an earlier run and is reused. */
  private[graft] def amplify(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val f = Paths.get(outDir)
    if (Files.exists(f.resolve("_READY"))) {
      println(s"[probe] reusing amplified tables at $outDir")
      return
    }
    Files.createDirectories(f)
    def t(n: String) = spark.read.parquet(s"$srcDir/$n.parquet")
    // the testdata layout is ONE FILE per table named
    // `<name>.parquet` — stream fixtures glob on that exact file
    // name (pathGlobFilter matches files, not directories), so the
    // amplified dir must reproduce the single-file layout
    def write(df: DataFrame, n: String): Unit = {
      val tmp = s"$outDir/_tmp_$n"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $n"))
      Files.move(part.toPath, f.resolve(s"$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(tmp).listFiles().foreach(_.delete())
      new java.io.File(tmp).delete()
      println(s"[probe] wrote $n x$factor")
    }
    def copies(df: DataFrame)(mk: Int => DataFrame): DataFrame =
      (0 until factor).map(mk).reduce(_ unionByName _)
    def shiftOf(keys: (DataFrame, String)*): Long =
      keys.map { case (df, c) =>
        df.agg(max(col(c))).collect()(0).getLong(0)
      }.max + 1L

    val ev = t("events")
    val (se, su) = (shiftOf(ev -> "event_id"), shiftOf(ev -> "user_id"))
    write(copies(ev)(i => ev
      .withColumn("event_id", col("event_id") + lit(i * se))
      .withColumn("user_id", col("user_id") + lit(i * su))), "events")

    val ord = t("orders"); val cust = t("customer")
    val li = t("lineitem")
    val so = shiftOf(ord -> "o_orderkey", li -> "l_orderkey")
    val sc = shiftOf(ord -> "o_custkey", cust -> "c_custkey")
    write(copies(ord)(i => ord
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * so))
      .withColumn("o_custkey", col("o_custkey") + lit(i * sc))),
      "orders")
    write(copies(cust)(i => cust
      .withColumn("c_custkey", col("c_custkey") + lit(i * sc))),
      "customer")
    write(copies(li)(i => li
      .withColumn("l_orderkey", col("l_orderkey") + lit(i * so))),
      "lineitem")

    val docs = t("documents")
    val sd = shiftOf(docs -> "doc_id")
    write(copies(docs)(i => docs
      .withColumn("doc_id", col("doc_id") + lit(i * sd))
      .withColumn("text", concat_ws(" ",
        transform(split(col("text"), "\\s+"),
          tk => concat(tk, lit(s"_$i")))))
      .withColumn("n_chars", length(col("text")).cast("long"))),
      "documents")

    val emb = t("embeddings")
    val sv = shiftOf(emb -> "vec_id")
    write(copies(emb)(i => emb
      .withColumn("vec_id", col("vec_id") + lit(i * sv))
      .withColumn("embedding", transform(col("embedding"),
        (x, j) => when(j === 0, x + lit(i * 0.013f))
          .otherwise(x)))), "embeddings")

    Seq("nation", "region", "supplier", "part").foreach { n =>
      write(t(n), n)
    }
    Files.write(f.resolve("_READY"), Array.empty[Byte])
  }

  /** Where `srcDir` amplified `factor`× lives: one dir per (base dir
    * name, factor) under the JVM temp dir. */
  private def amplifiedDir(srcDir: String, factor: Int): String =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${Paths.get(srcDir).getFileName}_x$factor").toString

  /** Min wall seconds of `reps` runs of `q` at `dir`, construction +
    * execution like Bench measures (operators may do eager work —
    * index builds, cache warm-up — at construction). None when every
    * rep failed. */
  private def timeQuery(spark: SparkSession, q: String, dir: String,
      reps: Int): Option[Double] = {
    val times = (1 to reps).flatMap { r =>
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          println(s"[probe] $q rep=$r FAILED at $dir: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(200))
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[probe] $q rep=$r time=$dt%.3fs" +
        (if (ok) "" else " (FAILED — excluded from min)"))
      // a failed rep's (typically tiny) elapsed time must never win
      // the min and report a fast failure as the steady state
      if (ok) Some(dt) else None
    }
    if (times.nonEmpty)
      println(f"[probe] $q min=${times.min}%.3fs reps=$reps " +
        f"ok=${times.size}")
    else if (reps > 0)
      println(s"[probe] $q ALL $reps reps FAILED — no min")
    times.reduceOption(_ min _)
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val factors = args.drop(2).find(_.matches("x\\d+(,x\\d+)*")).toSeq
      .flatMap(_.split(",").map(_.drop(1).toInt))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // park the periodic driver GC like Bench: a full GC inside a timed
    // rep is measurement noise, not engine work
    System.setProperty("spark.cleaner.periodicGC.interval", "120min")
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    if (args.contains("explain")) names.foreach { q =>
      println(s"== plan $q ==")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    if (args.contains("schema")) names.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      println(s"[schema] $q " + df.schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", "))
    }
    if (args.contains("show")) names.foreach { q =>
      SparkEntry.queries(q)(spark, sfDir).show(50, truncate = false)
    }
    val reps =
      if (args.exists(Set("schema", "explain", "show"))) 0
      else sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val dirs = factors.map(n => n -> amplifiedDir(sfDir, n))
    if (reps > 0) dirs.foreach { case (n, d) => amplify(spark, sfDir, d, n) }
    val rows = names.toSeq.map { q =>
      q -> (timeQuery(spark, q, sfDir, reps) +:
        dirs.map { case (_, d) => timeQuery(spark, q, d, reps) })
    }
    if (reps > 0 && factors.nonEmpty) {
      def secs(t: Option[Double]) = t.fold("FAILED")(s => f"$s%.2f")
      println(f"[scale] ${"query"}%-30s ${"base_s"}%8s" + factors.map(n =>
        f" ${s"x${n}_s"}%8s ${s"ratio(ideal $n)"}%16s").mkString)
      rows.foreach { case (q, times) =>
        val base = times.head
        println(f"[scale] $q%-30s ${secs(base)}%8s" + times.tail.map { t =>
          val ratio = for (b <- base; x <- t) yield f"${x / b}%.2f"
          f" ${secs(t)}%8s ${ratio.getOrElse("-")}%16s"
        }.mkString)
      }
    }
    spark.stop()
  }
}

package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one measurement window.
  *
  * Arguments are `key=value` pairs (see perfbench/run.py, which builds
  * them): workload, seed, seconds, trace, cores, base (fixture dir),
  * work (this workload's writable dir), out (result JSON), trace_out,
  * round_s (nominal seconds per warm round), queries (comma list),
  * scale and corpus (derived corpus), goldens (TSV of name, digest).
  *
  * The result file carries the end-to-end metrics (`e2e`), the per-layer
  * metrics of a traced run (`layers`), workload detail, set-up parts and
  * every error. */
object Main {
  /** The session graft.Bench uses, with every writable path pinned
    * under this run's work dir. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.join.preferSortMergeJoin", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Engine warm-up: graft.Bench's two statements plus a scan → join →
    * aggregate → sort → collect over the base fixture, so the engine's
    * first-use class loading and JIT land in set-up instead of on
    * whichever op runs first. */
  def warmup(spark: SparkSession, base: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("sum(id)").write
      .format("noop").mode("overwrite").save()
    spark.read.parquet(s"$base/region.parquet").write
      .format("noop").mode("overwrite").save()
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val o = spark.read.parquet(s"$base/orders.parquet")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("l_extendedprice"), count(lit(1)))
      .orderBy("o_orderpriority").collect()
    ()
  }

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s =>
      val i = s.indexOf('=')
      s.take(i) -> s.drop(i + 1)
    }.toMap
    val workload = a("workload")
    val base = a("base")
    val work = a("work")
    val cores = a("cores").toInt
    val traced = a("trace") == "1"
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warmupS = secondsOf(warmup(spark, base))

    // The workload's data set-up, repeated; the median repetition is
    // charged to setup_s, plus any corpus derivation when it happens.
    var deriveS = 0.0
    val seed = a("seed").toLong
    val lake =
      if (workload == "lake_churn") Some(new LakeWorkload(spark, base, work, seed))
      else None
    val csvS = secondsOf(lake.foreach(_.exportCsv()))
    val dir = if (workload == "llm_corpus") a("corpus") else base
    def dataSetup(): Unit = workload match {
      case "lake_churn" => lake.get.setup()
      case "llm_corpus" =>
        val marker = Paths.get(dir, "_built")
        def stamp = if (Files.exists(marker)) Files.readString(marker) else ""
        val before = stamp
        val dt = secondsOf(
          graft.ScaleFixture.ensure(spark, base, dir, a("scale").toInt))
        if (stamp != before) deriveS += dt
      case _ =>
    }
    val repS = (1 to 3).map(_ => secondsOf(dataSetup()))
    val setupS = sessionS + warmupS + csvS + Stats.median(repS) + deriveS

    val tracer = if (traced) new SpanTracer(spark) else NoTrace
    val ctx = new Ctx(spark, seed, tracer, cores, a("settle").toInt)
    // the measured work is fixed by the window and the workload's nominal
    // round time, never by how fast this run happens to go
    val warmRounds = math.max(2,
      math.floor(a("seconds").toDouble / a("round_s").toDouble).toInt)
    val goldens: Map[String, String] = a.get("goldens")
      .filter(p => Files.exists(Paths.get(p)))
      .map(p => Files.readAllLines(Paths.get(p)).toArray.toSeq.map(_.toString)
        .filter(_.contains("\t")).map { l =>
          val Array(k, v) = l.split("\t", 2); k -> v.trim
        }.toMap)
      .getOrElse(Map.empty)

    val detail: Map[String, Any] = try {
      lake match {
        case Some(w) => w.run(ctx, warmRounds); w.detail()
        case None =>
          val q = new QueryWorkload(ctx, dir,
            a("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq, goldens,
            warmRounds)
          q.run()
          q.detail()
      }
    } catch { case scala.util.control.NonFatal(e) =>
      ctx.errors += s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
      Map.empty
    }
    val windowS = ctx.elapsed
    val peakRss = Host.peakRssMb()

    val warm = ctx.warm
    val failedOps = ctx.samples.count(!_.ok)
    val attempted = math.max(1, ctx.samples.size)
    val failed = math.min(attempted, failedOps + ctx.badChecks)
    val e2e = Map[String, Any](
      "setup_s" -> Stats.metric(setupS, "s"),
      "cold_job_s" -> Stats.metric(ctx.cold.map(_.seconds).sum, "s",
        ctx.cold.size),
      "job_s" -> Stats.metric(
        warm.groupBy(_.kind).values.map(ss => Stats.median(ss.map(_.seconds))).sum,
        "s", warm.size),
      "peak_rss_mb" -> Stats.metric(peakRss, "MB"))

    val (layers, layerDetail, spans, opSplit) = tracer match {
      case t: SpanTracer =>
        t.settle()
        val (l, d) = Layers.rollup(ctx, t)
        (l, d, t.spanRecords(), t.perOp().map(o => o.op.id -> o).toMap)
      case _ => (Map.empty[String, Any], Map.empty[String, Any], Seq.empty,
        Map.empty[Int, SpanTracer.OpStats])
    }

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "cores" -> cores, "window_s" -> windowS,
      "correct" -> (ctx.errors.isEmpty && failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "checks" -> ctx.checks, "bad_checks" -> ctx.badChecks,
      "e2e" -> e2e, "layers" -> layers,
      "detail" -> (detail ++ layerDetail ++ Map(
        "error_rate" -> Stats.metric(failed.toDouble / attempted, "fraction"),
        "round_walls_s" -> ctx.roundWalls.toSeq)),
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> warmupS,
        "csv_export_s" -> csvS, "data_reps_s" -> repS,
        "derive_s" -> deriveS),
      "errors" -> ctx.errors.toSeq)
    Files.writeString(Paths.get(a("out")), Json.render(result))
    if (traced)
      Files.writeString(Paths.get(a("trace_out")), Json.render(Map(
        "workload" -> workload, "seed" -> seed, "spans" -> spans,
        "per_op" -> ctx.samples.zipWithIndex.map { case (s, i) =>
          Map("kind" -> s.kind, "layer" -> s.layer, "round" -> s.round,
            "seconds" -> s.seconds, "ok" -> s.ok, "builds" -> s.builds) ++
            opSplit.get(i).map(o => Map("plan_build_s" -> o.planS,
              "plan_build_jobs" -> o.planJobs, "exec_s" -> o.execS))
              .getOrElse(Map.empty)
        },
        "layers" -> layers, "detail" -> layerDetail, "e2e" -> e2e)))
    tracer match { case t: SpanTracer => t.close(); case _ => }
    spark.stop()
  }
}

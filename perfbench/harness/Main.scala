package perfbench

import java.io.PrintWriter

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one fresh session, raw samples out.
  *
  * {{{
  * perfbench.Main --workload <warehouse_queries|cdc_ingest>
  *   --seed N --seconds S --trace 0|1 --fixtures DIR --work DIR
  *   --out FILE [--keys k1,k2,..] [--spans FILE]
  * }}}
  *
  * Writes one JSON object of raw samples to `--out` (the Python runner
  * turns it into metrics) and, when tracing, the span tree as JSON lines
  * to `--spans`. Set-up is measured from JVM start to the first timed
  * operation. */
object Main {
  /** Offered rate of the timed cdc_ingest stream, rows/s: in the range
    * where commit latency is flat in the offered rate, at under a third
    * of the highest committed rate measured (perfbench/README.md,
    * "Choosing the offered rate"). */
  val IngestRate = 2000
  /** The untimed warm stream of cdc_ingest's set-up stops after this
    * many commits: a fixed amount of work, not of time. One keeps the
    * run inside the benchmark's time budget; a second commit narrowed
    * the set-up spread only a little. */
  val WarmCommits = 1
  val WarmMaxSeconds = 60.0

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val fixtures = opt("fixtures")
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime

    val tSession = System.nanoTime()
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.nanoTime() - tSession) / 1e6
    val tr = new Tracer(traced, spark.sparkContext)
    tr.attach(spark)

    val fields = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    fields ++= Seq("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "threads" -> 1, "traced" -> traced, "seconds" -> seconds,
      "session_ms" -> sessionMs)
    val ingest = workload match {
      case "cdc_ingest" =>
        Some(new Ingest(spark, tr, s"$work/ingest", seed, cores, IngestRate))
      case "warehouse_queries" => None
      case other => sys.error(s"unknown workload $other")
    }
    val keys = Queries.keys(opt.get("keys").toSeq.flatMap(_.split(",")))

    // ---- set-up: materialization and the untimed warm pass
    val setupSpan = tr.open(tr.root.id, "setup", "setup")
    ingest match {
      case None =>
        val t0 = System.nanoTime()
        tr.span(setupSpan, "artifacts", "artifacts") { _ =>
          Queries.buildArtifacts(spark, fixtures)
        }
        fields("artifacts_ms") = (System.nanoTime() - t0) / 1e6
        // the untimed warm pass: every key once, in key-list order
        tr.span(setupSpan, "warm", "warm") { ws =>
          keys.foreach(k => Queries.runOne(spark, fixtures, tr, ws, k, -1))
        }
      case Some(_) =>
        val w = new Ingest(spark, tr, s"$work/ingest-warm", seed + 1, cores,
          IngestRate)
        tr.span(setupSpan, "warm", "warm") { _ =>
          w.run(WarmMaxSeconds, WarmCommits)
        }
    }
    tr.close(setupSpan)
    tr.progress.clear() // keep the timed streams' progress only
    val setupEndMs = System.currentTimeMillis()
    fields("setup_ms") = (setupEndMs - jvmStartMs).toDouble

    fields("probe_start_s") = Probe.run(spark, warm = true)
    val t0 = System.nanoTime()
    ingest match {
      case None =>
        val samples = Queries.timedLoop(spark, fixtures, tr, keys, seed, seconds)
        fields("samples") = Json.Raw(samples.map(_.json).mkString("[", ",", "]"))
      case Some(ing) =>
        ing.run(seconds)
        fields("rate") = ing.rate
        fields("update_permille") = ing.updatePermille
        fields("update_window") = ing.updateWindow
        fields("commits") = Json.Raw(ing.commits.map(_.json).mkString("[", ",", "]"))
        fields("steps") = Json.Raw(ing.steps.map(_.json).mkString("[", ",", "]"))
        fields("reads") = Json.Raw(ing.reads.map(_.json).mkString("[", ",", "]"))
        fields("failures") = ing.failures.toSeq
    }
    fields("timed_ms") = (System.nanoTime() - t0) / 1e6
    fields("probe_end_s") = Probe.run(spark, warm = false)
    tr.detach(spark)

    // ---- output checks, outside the timed region
    val tCheck = System.nanoTime()
    ingest match {
      case None =>
        fields("checks") = Queries.check(spark, fixtures, keys.sorted).map {
          case (k, Right((rows, hash))) => Map("key" -> k, "rows" -> rows, "hash" -> hash)
          case (k, Left(err)) => Map("key" -> k, "error" -> err)
        }
      case Some(ing) =>
        fields("checks") = ing.verify().map { case (name, ok, detail) =>
          Map("key" -> name, "ok" -> ok, "detail" -> detail)
        }
    }
    fields("check_ms") = (System.nanoTime() - tCheck) / 1e6
    if (traced) {
      fields("progress") = tr.progress.toArray.toSeq
      ingest.foreach { ing =>
        fields("versions") = ing.versionFiles().map { case (v, files, bytes) =>
          Map("version" -> v, "files" -> files, "added_bytes" -> bytes)
        }
      }
      opt.get("spans").foreach { p =>
        val w = new PrintWriter(p)
        try tr.spansJson.foreach(w.println) finally w.close()
      }
    }
    val w = new PrintWriter(opt("out"))
    try w.println(Json.obj(fields.toSeq: _*)) finally w.close()
    spark.stop()
  }
}

/** The fixed CPU + shuffle calibration workload `graft.Bench` times
  * (expression chain over generated rows, one small shuffle), at a
  * quarter of its row count so start and end probes stay cheap. */
object Probe {
  def once(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, 8)
      .selectExpr("id",
        "pmod(xxhash64(concat('p', cast(id % 100000 as string))), " +
          "1000003) AS hm",
        "sqrt(abs(sin(cast(id as double)))) AS x")
      .selectExpr("pmod(hm, 1024) AS k", "hm", "x")
      .groupBy("k")
      .agg(sum("hm").as("s"), sum("x").as("sx"), count(lit(1)).as("n"))
      .agg(sum("s"), sum("sx"), sum("n"))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, warm: Boolean): Double = {
    if (warm) once(spark)
    once(spark)
  }
}

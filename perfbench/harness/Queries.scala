package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The closed-loop query workload. One client thread runs the
  * workload's `SparkEntry` keys in a seeded order, pass after pass.
  * Each query is split into construct (`SparkEntry.queries(k)(spark,
  * dir)`), plan (forcing `queryExecution.executedPlan`) and exec (the
  * planned physical plan run to completion with every row discarded,
  * which is what the noop sink does, without planning a second time). */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  /** The operator modules, in `SparkEntry.queries` order: a key held by
    * two maps belongs to the later one, as in the `++` there. */
  def modules: Seq[(String, Map[String, Q])] = Seq(
    "Scans" -> graft.ops.Scans.queries, "RowOps" -> graft.ops.RowOps.queries,
    "Joins" -> graft.ops.Joins.queries,
    "JoinsAsync" -> graft.ops.JoinsAsync.queries,
    "Aggs" -> graft.ops.Aggs.queries, "Windows" -> graft.ops.Windows.queries,
    "SetOps" -> graft.ops.SetOps.queries, "Fns" -> graft.ops.Fns.queries,
    "Streaming" -> graft.ops.Streaming.queries,
    "Llm" -> graft.ops.Llm.queries, "LlmExtra" -> graft.ops.LlmExtra.queries,
    "Ads" -> graft.ops.Ads.queries, "Cep" -> graft.ops.Cep.queries,
    "Graph" -> graft.ops.Graph.queries)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** The workload's keys, as given; every one must be a `SparkEntry` key. */
  def keys(names: Seq[String]): Seq[String] = {
    val missing = names.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"not SparkEntry keys: ${missing.mkString(",")}")
    names
  }

  /** Materialization before the timed loop: the `tableArtifactBuild`
    * families the keys read (JDBC boot, trade-graph edges). */
  def buildArtifacts(spark: SparkSession, dir: String): Unit = {
    graft.ops.Scans.tableArtifactBuild(spark, dir, includeGraph = true,
      includeTables = false, includeJdbc = true)
    graft.ops.Graph.tradeGraph(spark, dir)
  }

  final case class Sample(key: String, module: String, pass: Int,
      constructMs: Double, planMs: Double, execMs: Double, wallMs: Double,
      ok: Boolean, error: String) {
    def json: String = Json.obj("key" -> key, "module" -> module,
      "pass" -> pass, "construct_ms" -> constructMs, "plan_ms" -> planMs,
      "exec_ms" -> execMs, "wall_ms" -> wallMs, "ok" -> ok,
      "error" -> Option(error))
  }

  /** Runs one key as construct → plan → exec; never throws. */
  def runOne(spark: SparkSession, dir: String, tr: Tracer, parent: Span,
      key: String, pass: Int): Sample = {
    val fn = graft.SparkEntry.queries(key)
    var c, p, e = 0.0
    var err: String = null
    val qs = tr.open(parent.id, key, "query")
    try {
      val df = tr.span(qs, "construct", "construct") { s =>
        try fn(spark, dir) finally c = (System.nanoTime() - s.startNs) / 1e6
      }
      val qe = tr.span(qs, "plan", "plan") { s =>
        try { val qe = df.queryExecution; qe.executedPlan; qe }
        finally p = (System.nanoTime() - s.startNs) / 1e6
      }
      tr.span(qs, "exec", "exec") { s =>
        try SQLExecution.withNewExecutionId(qe, Some(s"perfbench $key")) {
          qe.executedPlan.execute().foreach(_ => ())
        } finally e = (System.nanoTime() - s.startNs) / 1e6
      }
    } catch {
      case t: Throwable =>
        err = s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)
    } finally tr.close(qs)
    // per-query cache hygiene, outside the timing (as graft.Bench does)
    graft.ops.OpCache.release(spark)
    spark.catalog.clearCache()
    Sample(key, moduleOf.getOrElse(key, "other"), pass, c, p, e, qs.ms,
      err == null, err)
  }

  /** Seconds of timed work one pass of the key set stands for: the loop
    * runs `seconds / PassSeconds` whole passes (at least one), a fixed
    * count, so every key has the same number of samples in every run. */
  val PassSeconds = 24.0

  /** Closed loop: whole passes, each in its own seeded order. */
  def timedLoop(spark: SparkSession, dir: String, tr: Tracer,
      keys: Seq[String], seed: Long, seconds: Double): Seq[Sample] = {
    val rng = new scala.util.Random(seed)
    val passes = math.max(1, (seconds / PassSeconds).toInt)
    (0 until passes).flatMap { pass =>
      val ps = tr.open(tr.root.id, s"pass$pass", "pass")
      try rng.shuffle(keys).map(k => runOne(spark, dir, tr, ps, k, pass))
      finally tr.close(ps)
    }
  }

  /** Order-insensitive content hash of a result: doubles are rounded to
    * 6 decimals, nested values go through `to_json`, then the sum of the
    * per-row xxhash64 over all columns (as an exact decimal). */
  def contentHash(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _: MapType | _: StructType | ArrayType(_: StructType, _) |
            ArrayType(_: MapType, _) | ArrayType(_: ArrayType, _) =>
          to_json(c)
        case _ => c
      }
    }
    val canon = renamed.select(cols.zipWithIndex.map { case (c, i) =>
      c.as(s"h$i") }.toIndexedSeq: _*)
    val r = canon.agg(count(lit(1)),
        sum(xxhash64(canon.columns.map(col).toIndexedSeq: _*)
          .cast(DecimalType(38, 0))))
      .first()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  /** Output check of the given keys, outside the timed region. */
  def check(spark: SparkSession, dir: String, keys: Seq[String])
      : Seq[(String, Either[String, (Long, String)])] =
    keys.map { k =>
      val r =
        try Right(contentHash(graft.SparkEntry.queries(k)(spark, dir)))
        catch { case t: Throwable =>
          Left(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
        }
      graft.ops.OpCache.release(spark)
      spark.catalog.clearCache()
      k -> r
    }
}

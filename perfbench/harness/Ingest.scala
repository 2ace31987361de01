package perfbench

import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.streaming.{SnapshotTable, Streams, Warehouse}

/** The open-loop CDC ingest lane: `rate` source → `Warehouse.clean` →
  * `Warehouse.dedupIngest` → `Streams.snapshotMergeBatch` (upsert-latest
  * into a `SnapshotTable`, from this harness's own `foreachBatch`), with
  * one reader thread beside it folding a change-feed board through
  * `Streams.tableChangeStep` and taking snapshot reads. The source
  * offers `rate` rows/s. */
final class Ingest(spark: SparkSession, tr: Tracer, work: String,
    seed: Long, partitions: Int, val rate: Int) {
  import Ingest._

  /** Share (per mille) of events that update a recent key; the seed
    * picks it. */
  val updatePermille: Long = updatePermilleOf(seed)
  /** How many events back an update may reach: `UpdateWindowSeconds`
    * of the stream. */
  val updateWindow: Long = rate.toLong * UpdateWindowSeconds

  private val root = s"$work/lake/events"
  private val board = s"$work/lake/board"
  val commits = mutable.ArrayBuffer.empty[Commit]
  val steps = mutable.ArrayBuffer.empty[Step]
  val reads = mutable.ArrayBuffer.empty[Read]
  val failures = mutable.ArrayBuffer.empty[String]
  private val lock = new Object

  /** Deterministic event columns from `event_id` and the seed. A share
    * `updatePermille`/1000 of events updates a key created by one of the
    * `updateWindow` events before it; every other event inserts its own
    * id as a new key. Keys therefore grow with the stream and updates
    * stay recent, so a commit touches only the newest files. */
  def derive(df: DataFrame): DataFrame = {
    val h = xxhash64(col("event_id"), lit(seed))
    val back = pmod(shiftrightunsigned(h, 10), lit(updateWindow)) + 1
    val update = pmod(h, lit(1000L)) < updatePermille &&
      back <= col("event_id")
    df.select(
      when(update, col("event_id") - back).otherwise(col("event_id")).as("k"),
      col("event_id"), col("ts"),
      element_at(array(EventTypes.map(lit): _*),
        (pmod(shiftrightunsigned(h, 40), lit(EventTypes.size.toLong)) + 1)
          .cast("int")).as("event_type"),
      (pmod(shiftrightunsigned(h, 20), lit(100000L)).cast("double") / 100.0)
        .as("value"))
  }

  private def events: DataFrame =
    derive(spark.readStream.format("rate")
      .option("rowsPerSecond", rate.toLong)
      .option("numPartitions", partitions.toLong).load()
      .select(col("value").as("event_id"), col("timestamp").as("ts")))

  /** Upsert-latest: the highest event id per key wins. */
  private val resolve: (Option[DataFrame], DataFrame) => DataFrame =
    (cur, batch) => {
      val all = cur.fold(batch)(c => c.unionByName(batch))
      all.withColumn("_rn", row_number().over(
          Window.partitionBy("k").orderBy(col("event_id").desc)))
        .where(col("_rn") === 1).drop("_rn")
    }

  private val dec = DecimalType(18, 2)
  private def boardInit(img: DataFrame): DataFrame =
    img.agg(count(lit(1)).as("n_keys"),
      coalesce(sum(col("value").cast(dec)), lit(0).cast(dec)).as("sum_value"))

  private def boardFold(b: DataFrame, ch: DataFrame): DataFrame = {
    val post = col("_change_type").isin("insert", "update_postimage")
    val pre = col("_change_type").isin("delete", "update_preimage")
    val d = ch.agg(
      coalesce(sum(when(col("_change_type") === "insert", 1L)
        .when(col("_change_type") === "delete", -1L).otherwise(0L)),
        lit(0L)).as("dn"),
      coalesce(sum(when(post, col("value").cast(dec))
        .when(pre, -col("value").cast(dec))), lit(0).cast(dec)).as("dv"))
    b.crossJoin(d).select((col("n_keys") + col("dn")).as("n_keys"),
      (col("sum_value") + col("dv")).cast(dec).as("sum_value"))
  }

  private def now = System.currentTimeMillis()

  private def handle(stop: AtomicBoolean, commitLimit: Int, parent: Span)(
      batch: DataFrame, id: Long): Unit = lock.synchronized {
    if (!stop.get) tr.span(parent, s"batch$id", "microbatch") { bs =>
      val startMs = now
      val b = batch.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val st = b.agg(count(lit(1)), unix_millis(min(col("ts"))),
          unix_millis(max(col("ts"))), max(col("event_id"))).first()
        val n = st.getLong(0)
        if (n > 0) {
          val t0 = System.nanoTime()
          val ok = tr.span(bs, "commit", "commit") { _ =>
            Streams.snapshotMergeBatch(root, "k", AppId, Retain)(
              resolve)(b, id)
          }
          val endMs = now
          val ms = (System.nanoTime() - t0) / 1e6
          val v = SnapshotTable.latestVersion(spark, root).getOrElse(-1L)
          if (ok) commits += Commit(id, startMs, endMs, ms, n,
            st.getLong(1), st.getLong(2), st.getLong(3), v)
          if (commits.size >= commitLimit) stop.set(true)
        }
      } catch {
        case t: Throwable => failures += s"commit batch$id: $t"
      } finally b.unpersist()
    }
  }

  /** The stream, until `seconds` have passed or `commitLimit` commits
    * have landed. */
  private def stream(seconds: Double, commitLimit: Int): Unit = {
    val stop = new AtomicBoolean(false)
    val ss = tr.open(tr.root.id, s"stream@$rate", "stream")
    val q = Warehouse.dedupIngest(Warehouse.clean(events))
      .writeStream
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch(handle(stop, commitLimit, ss) _)
      .start()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (!stop.get && System.nanoTime() < deadline) Thread.sleep(20)
    stop.set(true)
    lock.synchronized(()) // the in-flight commit, if any, finishes first
    q.stop()
    tr.close(ss)
  }

  /** The reader loop: drain one change-feed step if a version is
    * pending, then take one snapshot read. */
  def readerThread(stop: AtomicBoolean, parent: Span): Thread = {
    val t = new Thread(() => {
      var consumed: Option[Long] = None
      def stepOnce(): Boolean = {
        val vs = SnapshotTable.committedVersions(spark, root)
        val next = consumed.fold(vs.headOption)(c => vs.find(_ > c))
        next.exists { v =>
          val t0 = System.nanoTime()
          val stepped = tr.span(parent, s"step$v", "change_step") { _ =>
            Streams.tableChangeStep(spark, root, "k", board)(boardInit)(
              boardFold)
          }
          if (stepped) {
            consumed = Some(v)
            steps += Step(now, (System.nanoTime() - t0) / 1e6, v)
          }
          stepped
        }
      }
      try {
        while (!stop.get) {
          stepOnce()
          val t0 = System.nanoTime()
          val n = tr.span(parent, "read", "snapshot_read") { _ =>
            SnapshotTable.read(spark, root)
              .map(_.agg(count(lit(1)), sum(col("value"))).first().getLong(0))
          }
          n.foreach { rows =>
            reads += Read(now, (System.nanoTime() - t0) / 1e6, rows)
          }
          if (n.isEmpty) Thread.sleep(20)
        }
        // catch up on everything committed before the writers stopped
        while (stepOnce()) ()
      } catch {
        case e: Throwable => failures += s"reader: $e"
      }
    }, "perfbench-reader")
    t.setDaemon(true)
    t
  }

  /** Runs the stream with the reader beside it, for `seconds` or until
    * `commitLimit` commits have landed, whichever comes first. */
  def run(seconds: Double, commitLimit: Int = Int.MaxValue): Unit = {
    val stop = new AtomicBoolean(false)
    val rs = tr.open(tr.root.id, "reader", "reader")
    val reader = readerThread(stop, rs)
    reader.start()
    stream(seconds, commitLimit)
    stop.set(true)
    reader.join()
    tr.close(rs)
  }

  /** The final table must equal the batch latest-per-key image of the
    * committed events, and the board must equal that image's fold. */
  def verify(): Seq[(String, Boolean, String)] = {
    val committed = commits.map(_.maxId).maxOption.map { maxId =>
      spark.range(0L, maxId + 1).toDF("event_id")
        .withColumn("ts", current_timestamp())
    }
    val cols = Seq("k", "event_id", "event_type", "value").map(col)
    val image = committed.map { ev =>
      resolve(None, Warehouse.clean(derive(ev))).select(cols: _*)
    }
    val table = SnapshotTable.read(spark, root).map(_.select(cols: _*))
    (image, table) match {
      case (Some(img), Some(tab)) =>
        val extra = tab.exceptAll(img).count()
        val missing = img.exceptAll(tab).count()
        val want = boardInit(img).first()
        val got = spark.read.parquet(board).first()
        val boardOk = want.getLong(0) == got.getLong(0) &&
          want.getDecimal(1).compareTo(got.getDecimal(1)) == 0
        Seq(("table_image", extra == 0 && missing == 0,
            s"extra=$extra missing=$missing rows=${img.count()}"),
          ("board_fold", boardOk, s"want=$want got=$got"))
      case _ => Seq(("table_image", false, "no commit landed"))
    }
  }

  /** Per-version lake accounting (traced run only): files per version
    * and bytes of the files each version added. */
  def versionFiles(): Seq[(Long, Int, Long)] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val retained = SnapshotTable.committedVersions(spark, root).toSet
    commits.map(_.version).filter(retained).distinct.toSeq.map { v =>
      val added = SnapshotTable.newFiles(spark, root, v).map { f =>
        fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/$f")).getLen
      }.sum
      (v, SnapshotTable.fileCount(spark, root, v), added)
    }
  }
}

object Ingest {
  val EventTypes = Seq("view", "click", "purchase", "signup", "error")
  val AppId = "perfbench-ingest"

  /** The update share the seed picks: 20.0% to 30.0%. */
  def updatePermilleOf(seed: Long): Long =
    200L + Math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(s"update-share-$seed"), 101)
  /** Updates reach keys created within this many seconds of the stream:
    * a CDC row mostly updates an entity created shortly before it. */
  val UpdateWindowSeconds = 10L
  /** Versions the table keeps: enough that the board reader never
    * falls behind the retained history within a run. */
  val Retain = 64

  final case class Commit(batchId: Long, startMs: Long,
      endMs: Long, commitMs: Double, rows: Long, minTs: Long, maxTs: Long,
      maxId: Long, version: Long) {
    def json: String = Json.obj("batch" -> batchId,
      "start_ms" -> startMs, "end_ms" -> endMs, "commit_ms" -> commitMs,
      "rows" -> rows, "min_ts" -> minTs, "max_ts" -> maxTs,
      "max_id" -> maxId, "version" -> version)
  }
  final case class Step(atMs: Long, ms: Double, version: Long) {
    def json: String = Json.obj("at_ms" -> atMs, "ms" -> ms, "version" -> version)
  }
  final case class Read(atMs: Long, ms: Double, rows: Long) {
    def json: String = Json.obj("at_ms" -> atMs, "ms" -> ms, "rows" -> rows)
  }
}

package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.AvroExpressions
import graft.operators.{CdcMerge, CdcTable}

/** The open-loop Debezium → Hudi workload.
  *
  * Set-up derives change images from the `events` table with q24's
  * mapping (op from `event_type`, `__deleted`, `__source_ts_ms`, keyed on
  * `user_id`), bulk-inserts a seed-chosen third into a [[CdcTable]],
  * shuffles the rest within bounded windows (so some images arrive out
  * of LSN order) and Avro-encodes them with `AvroExpressions.toAvro` into
  * Kafka-wire `(key, value, timestamp, offset)` parquet files.
  *
  * The run then moves one file into the stream's source directory every
  * `1 / FileRate` seconds, whatever the consumer is doing. A streaming
  * query decodes each micro-batch with `AvroExpressions.fromAvro`; its
  * `foreachBatch` calls `CdcTable.upsert`, and `CdcTable.compact` after
  * every `CompactEvery`-th commit (Hudi's default inline cadence).
  * Meanwhile one reader thread issues, at `ReadRate` per second, two
  * `realTime(Drop)` point lookups for every `incremental` pull of the
  * last three commits.
  */
object CdcStream {
  /** Change files and reads per second. The file source takes every file
    * present when a micro-batch plans, so a higher file rate makes larger
    * batches rather than a backlog: on a 4-core box the library held
    * its schedule up to 80 files/s, the highest rate a run can stage (see
    * perfbench/README.md). 5 files/s keeps batches at about two files and
    * set-up short.
    */
  val FileRate = 5.0
  val ReadRate = 1.0
  val CompactEvery = 5
  /** Images are shuffled within windows of this many consecutive events. */
  val DisorderWindow = 64
  /** Incremental pulls cover this many commits, fewer than CompactEvery so
    * a pull never needs a delta the retain-one cleaner has collected.
    */
  val PullCommits = 3

  /** DuckDB oracle of the final `realTime(Drop)` snapshot: q24's change
    * images of every event, merged last-write-wins per key with deletes
    * dropped.
    */
  val FinalSql: String =
    """SELECT user_id, event_id, value, __op FROM (
      |  SELECT user_id, event_id, value,
      |    CASE WHEN event_type = 'signup' THEN 'c'
      |         WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS __op,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(CAST(ts AS TIMESTAMP)) DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1 AND __op <> 'd'
      |ORDER BY user_id""".stripMargin

  val ChangeSchema: String =
    """{"type":"record","name":"change","fields":[
      |{"name":"user_id","type":"long"},{"name":"event_id","type":"long"},
      |{"name":"value","type":"double"},{"name":"__op","type":"string"},
      |{"name":"__deleted","type":"string"},{"name":"__source_ts_ms","type":"long"},
      |{"name":"event_type","type":"string"}]}""".stripMargin

  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("timestamp", TimestampType), StructField("offset", LongType)))

  def changelog(spark: SparkSession, dir: String): DataFrame = {
    val op = when(col("event_type") === "signup", "c")
      .when(col("event_type") === "error", "d").otherwise("u")
    Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("value"), op.as("__op"),
      when(op === "d", "true").otherwise("false").as("__deleted"),
      unix_millis(col("ts")).as("__source_ts_ms"), col("event_type"), col("ts"))
  }

  def newTable(spark: SparkSession, root: String): CdcTable =
    new CdcTable(spark, root, keyCols = Seq("user_id"),
      orderingCols = Seq("__source_ts_ms", "event_id"), partitionCol = "event_type")

  final case class Fixture(table: CdcTable, root: Path, files: Seq[(Path, Long)], users: Array[Long])

  /** Bulk-insert the seed-chosen third and stage the rest as `nFiles`
    * Kafka-wire files; returns the staged files with their row counts.
    */
  def fixture(spark: SparkSession, a: Main.Args, nFiles: Int): Fixture = {
    val root = Paths.get(a.work, "cdc")
    Main.wipe(root)
    val table = newTable(spark, s"$root/table")
    val cl = changelog(spark, a.data)
    val bulk = pmod(xxhash64(col("event_id"), lit(a.seed)), lit(3L)) === 0
    table.bulkInsert(cl.filter(bulk).drop("ts"))
    val rest = cl.filter(!bulk)
    val n = rest.count()
    val ordered = rest
      .withColumn("pos", row_number().over(Window.orderBy(
        col("event_id").divide(DisorderWindow).cast("long"),
        xxhash64(col("event_id"), lit(a.seed + 1)))) - 1)
      .withColumn("file", (col("pos") * nFiles / n).cast("int"))
    val staged = Paths.get(s"$root/staged")
    ordered.select(
        col("user_id").cast("string").cast("binary").as("key"),
        AvroExpressions.toAvro(struct(col("user_id"), col("event_id"), col("value"),
          col("__op"), col("__deleted"), col("__source_ts_ms"), col("event_type")),
          ChangeSchema).as("value"),
        col("ts").as("timestamp"), col("pos").as("offset"), col("file"))
      .write.partitionBy("file").parquet(staged.toString)
    // rows of file i: the positions p with floor(p * nFiles / n) == i
    def firstPos(i: Int): Long = (i * n + nFiles - 1) / nFiles
    val files = (0 until nFiles).map { i =>
      val part = Main.list(staged.resolve(s"file=$i")).find(_.getFileName.toString.endsWith(".parquet")).get
      (part, firstPos(i + 1) - firstPos(i))
    }
    val users = cl.select("user_id").distinct().orderBy("user_id").collect().map(_.getLong(0))
    Fixture(table, root, files, users)
  }

  def decode(df: DataFrame): DataFrame =
    df.select(AvroExpressions.fromAvro(col("value"), ChangeSchema).as("c")).select("c.*")

  def run(a: Main.Args, rec: Recorder, runId: Long,
      out: mutable.LinkedHashMap[String, Any]): Unit = {
    val nFiles = math.ceil(FileRate * a.seconds).toInt
    val nReads = math.ceil(ReadRate * a.seconds).toInt
    require(nFiles >= 100 && nReads >= 20,
      s"--seconds ${a.seconds} gives $nFiles files and $nReads reads; " +
        "a p90 needs 100 samples and a median 20")
    val (wlId, wlStart) = (rec.newId(), Clock.nowUs)

    // set-up: session and fixture
    var fx: Fixture = null
    val setups = Main.setUp(a, rec, wlId)(spark => fx = fixture(spark, a, nFiles))
    out("setup_s") = setups
    val spark = SparkSession.active
    Main.drain(spark)
    val table = fx.table
    val src = fx.root.resolve("source")
    Files.createDirectories(src)

    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val commits = new AtomicLong(0)
    val tableRoot = fx.root.resolve("table")
    def logDeltas(): Long =
      Main.list(tableRoot.resolve("log")).count(_.getFileName.toString.startsWith("delta_")).toLong

    val cpu0 = rec.cpuNs.get
    val query = decode(spark.readStream.schema(WireSchema).parquet(src.toString))
      .writeStream
      .option("checkpointLocation", fx.root.resolve("checkpoint").toString)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        rec.span(spark, wlId, "batch", s"batch$batchId") { bid =>
          val (_, upNs) = rec.span(spark, bid, "upsert", s"upsert$batchId")(_ => table.upsert(df))
          val upEnd = Clock.nowUs
          val deltas = logDeltas()
          val bytes = Main.dirBytes(tableRoot)
          val c = commits.incrementAndGet()
          val compactNs =
            if (c % CompactEvery == 0) rec.span(spark, bid, "compact", s"compact$batchId")(_ => table.compact())._2
            else 0L
          batches.add(Map("batch_id" -> batchId, "upsert_end_us" -> upEnd,
            "upsert_ns" -> upNs, "compact_ns" -> compactNs, "compacted" -> (compactNs > 0),
            "log_deltas" -> deltas, "table_bytes" -> bytes))
        }
        ()
      }
      .start()

    // the open-loop clock: operation i of a stream is due at t0 + i / rate
    val t0Us = Clock.nowUs + 500000L
    def sleepUntil(us: Long): Unit = {
      val d = us - Clock.nowUs
      if (d > 0) Thread.sleep(d / 1000L, ((d % 1000L) * 1000L).toInt)
    }
    val sent = new ConcurrentLinkedQueue[Map[String, Any]]()
    val generator = new Thread(() => {
      fx.files.zipWithIndex.foreach { case ((file, rows), i) =>
        val due = t0Us + (i * 1e6 / FileRate).toLong
        sleepUntil(due)
        val dst = src.resolve(f"change_$i%05d.parquet")
        Files.move(file, dst, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(dst, FileTime.fromMillis(System.currentTimeMillis()))
        sent.add(Map("file" -> i, "rows" -> rows, "due_us" -> due, "sent_us" -> Clock.nowUs))
      }
    }, "perfbench-generator")
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reader = new Thread(() => {
      val rnd = new Random(a.seed)
      (0 until nReads).foreach { j =>
        val due = t0Us + (j * 1e6 / ReadRate).toLong
        sleepUntil(due)
        val start = Clock.nowUs
        var kind = "realtime"
        val ok = try {
          rec.span(spark, wlId, "read", s"read$j") { _ =>
            val latest = table.latestCommit
            if (j % 3 == 2 && latest >= 1) {
              kind = "incremental"
              table.incremental(math.max(0L, latest - PullCommits), latest, CdcMerge.Drop)
                .write.format("noop").mode("overwrite").save()
            } else {
              val k = fx.users(rnd.nextInt(fx.users.length))
              table.realTime(CdcMerge.Drop).filter(col("user_id") === k).collect()
            }
          }
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] read $j ($kind) failed: $e")
            false
        }
        reads.add(Map("read" -> j, "kind" -> kind, "due_us" -> due, "start_us" -> start,
          "end_us" -> Clock.nowUs, "ok" -> ok))
      }
    }, "perfbench-reader")
    HeapPeak.open()
    generator.start()
    reader.start()
    generator.join()
    query.processAllAvailable()
    reader.join()
    query.stop()
    Main.drain(spark)
    out("replay") = Map("t0_us" -> t0Us, "cpu_ns" -> (rec.cpuNs.get - cpu0))
    out("peak_old_gen_bytes") = HeapPeak.close()
    out("files") = sent.asScala.toSeq
    out("reads") = reads.asScala.toSeq
    out("batches") = batches.asScala.toSeq

    // correctness and space, outside the timed window
    val checkDir = s"${a.work}/outputs"
    val rewrite = fx.root.resolve("rewrite")
    rec.span(spark, wlId, "check", "final") { _ =>
      table.realTime(CdcMerge.Drop)
        .select("user_id", "event_id", "value", "__op").orderBy("user_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$checkDir/cdc_final")
      table.realTime(CdcMerge.Rewrite).coalesce(1).write.partitionBy("event_type")
        .parquet(rewrite.toString)
    }
    out("outputs_dir") = checkDir
    Main.writeOracles(checkDir, Map("cdc_final" -> FinalSql))
    out("lake") = Map("disk_bytes" -> Main.dirBytes(tableRoot), "live_bytes" -> Main.dirBytes(rewrite))
    rec.addSpan(Span(wlId, runId, "workload", a.workload, wlStart, Clock.nowUs))
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `perfbench/run.py` builds the inputs,
  * starts this JVM once per run and turns the raw record file it writes
  * into metrics:
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *      --data DIR --work DIR --out FILE
  * }}}
  *
  * `--data` holds the generated tables the run measures, `--work` the
  * run's private state (warehouse, scratch, checkpoints, outputs).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cpus: Int, data: String, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cpus").toInt, m("data"), m("work"), m("out"))
  }

  /** Set-up, timed: a fresh session plus the workload's `fixture`, run
    * `SetUps` times so the median is steady (the first round is cold).
    * The previous round's session is stopped, and the heap collected,
    * outside the timing. Returns each round's seconds.
    */
  val SetUps = 3

  def setUp(a: Args, rec: Recorder, parent: Long)(fixture: SparkSession => Unit): Seq[Double] =
    (1 to SetUps).map { k =>
      SparkSession.getActiveSession.foreach(_.stop())
      wipe(Paths.get(a.work, "warehouse"))
      System.gc()
      val t0 = System.nanoTime()
      val spark = session(a, rec)
      rec.span(spark, parent, "setup", s"setup$k")(_ => fixture(spark))
      (System.nanoTime() - t0) / 1e9
    }

  /** A session whose warehouse and scratch live under the run's work
    * directory.
    */
  def session(a: Args, rec: Recorder): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    rec.register(spark)
    spark
  }

  def wipe(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally st.close()
    }

  /** Entries of a directory; none when it does not exist. */
  def list(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val st = Files.list(p)
      try st.iterator().asScala.toSeq finally st.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def drain(spark: SparkSession): Unit = Bus.drain(spark.sparkContext)

  /** Old-generation bytes in use after a full collection. Spark's
    * context cleaner frees blocks of unreachable broadcasts and
    * checkpoints only after a collection has found them, so collect and
    * give it a moment, twice, before the collection that is read.
    */
  def liveOldGenBytes(): Long = {
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(400) }
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => Recorder.isOldGen(p.getName))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
  }

  /** Write the DuckDB oracle statement of each output under `dir`, in the
    * `oracle_sql.json` form the repo's oracle gate `tools/check_oracle.py`
    * reads.
    */
  def writeOracles(dir: String, oracles: Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, "oracle_sql.json"), Json(oracles))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rec = new Recorder(a.trace)
    val result: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cpus" -> a.cpus)
    val runId = rec.newId()
    val runStart = Clock.nowUs
    a.workload match {
      case "corpus_dedup" => Batch.run(a, rec, runId, result)
      case "cdc_stream" => CdcStream.run(a, rec, runId, result)
      case other => sys.error(s"unknown workload $other")
    }
    SparkSession.getActiveSession.foreach { s => drain(s) }
    rec.addSpan(Span(runId, 0L, "run", a.workload, runStart, Clock.nowUs))
    result("hook_ms") = rec.hookNs.get / 1e6
    if (a.trace) {
      result("spans") = rec.spans.asScala.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs))
      result("jobs") = rec.jobs.values.toSeq.map(j => Map(
        "id" -> j.jobId, "span" -> j.span, "exec_id" -> j.execId,
        "start_us" -> j.startUs, "end_us" -> j.endUs, "stages" -> j.stageIds))
      result("stages") = rec.stages.values.toSeq.map(s => Map(
        "id" -> s.stageId, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "tasks" -> s.tasks, "details" -> s.details) ++ s.m)
      result("plans") = rec.plans.toSeq
      result("exec_plans") = rec.execPlans.toSeq.map { case (id, c) => c + ("exec_id" -> id) }
    }
    result("stream_progress") = rec.progress.asScala.toSeq
    Files.writeString(Paths.get(a.out), Json(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

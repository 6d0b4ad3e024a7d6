package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.LlmQueries

/** The closed-loop batch workload `corpus_dedup`: one client runs the
  * workload's queries back to back, each pass in a seed-shuffled order.
  *
  * The queries are a fixed subset of the `SparkEntry.benchQueries`
  * entries registered in `LlmQueries.queries`: exact and near-duplicate
  * detection, banding with candidate and confirm joins, connected
  * components, ANN and top-k, and incremental admission and fold
  * against a `StandingIndex`. A pass over all 27 such entries takes
  * about 25 s on a 4-core box, too long for the run budget to hold a
  * warm-up pass and two timed passes.
  */
object Batch {
  val Queries: Seq[String] = Seq(
    "q14_dedup_exact", "q15_dedup_bag", "q16_neardup_lsh", "q18_cosine_topk",
    "q19_ann_lsh", "q31_topk_native", "q40_dedup_clusters", "q73_incremental_dedup",
    "q75_incremental_neardup", "q89_index_maintenance")

  def queries: Seq[String] = {
    val llm = LlmQueries.queries.keySet
    require(Queries.forall(q => SparkEntry.benchQueries.contains(q) && llm(q) &&
      SparkEntry.oracleSql.contains(q)), "every corpus_dedup query is an LlmQueries bench query with an oracle")
    Queries
  }

  /** Timed passes per run, at least: enough for 20 query latencies, the
    * sample count a median needs to have 10 samples beyond it.
    */
  val MinPasses = 2

  def run(a: Main.Args, rec: Recorder, runId: Long,
      out: mutable.LinkedHashMap[String, Any]): Unit = {
    val qs = queries
    val (wlSpanId, wlStart) = (rec.newId(), Clock.nowUs)

    def materialize(spark: SparkSession, parent: Long, name: String, dir: String,
        sink: Option[String]): Map[String, Any] = {
      val start = Clock.nowUs
      try {
        rec.span(spark, parent, "query", name) { qid =>
          val (df, _) = rec.span(spark, qid, "build", name)(_ => SparkEntry.queries(name)(spark, dir))
          rec.span(spark, qid, "exec", name) { _ =>
            sink match {
              case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
        }
        Map("name" -> name, "start_us" -> start, "end_us" -> Clock.nowUs, "ok" -> true)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          Map("name" -> name, "start_us" -> start, "end_us" -> Clock.nowUs, "ok" -> false,
            "error" -> String.valueOf(e.getMessage).take(500))
      }
    }

    // set-up: session and fixtures (every input table opened and counted)
    val setups = Main.setUp(a, rec, wlSpanId) { spark =>
      graft.Tables.all.foreach(t => graft.Tables(spark, a.data, t).count())
    }
    out("setup_s") = setups
    val spark = SparkSession.active

    // warm-up and correctness pass on the measured tables, outside the
    // timed window: each output goes to parquet for the oracle comparison
    val checkDir = s"${a.work}/outputs"
    val c0 = Clock.nowUs
    rec.span(spark, wlSpanId, "check", "outputs") { checkId =>
      out("checks") = qs.map(q => materialize(spark, checkId, q, a.data, Some(s"$checkDir/$q")))
      out("warmup_s") = (Clock.nowUs - c0) / 1e6
      out("lake") = lakeBytes(spark, a.work)
    }
    out("outputs_dir") = checkDir
    Main.writeOracles(checkDir, qs.map(q => q -> SparkEntry.oracleSql(q)).toMap)

    // timed passes: at least MinPasses, then more while another pass is
    // expected to end within --seconds
    Main.drain(spark)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    def more(p: Int): Boolean =
      p < MinPasses || (System.nanoTime() - t0) * (p + 1.0) / p <= a.seconds * 1e9
    var p = 0
    while (more(p)) {
      val order = new Random(a.seed * 1000003L + p).shuffle(qs)
      val cpu0 = rec.cpuNs.get
      val passId = rec.newId()
      HeapPeak.open()
      val start = Clock.nowUs
      order.foreach { q =>
        ops += (materialize(spark, passId, q, a.data, None) + ("pass" -> p))
      }
      val end = Clock.nowUs
      Main.drain(spark)
      rec.addSpan(Span(passId, wlSpanId, "pass", s"pass$p", start, end))
      passes += Map("pass" -> p, "start_us" -> start, "end_us" -> end,
        "cpu_ns" -> (rec.cpuNs.get - cpu0), "peak_old_gen_bytes" -> HeapPeak.close())
      p += 1
    }
    out("passes") = passes.toSeq
    out("ops") = ops.toSeq
    rec.addSpan(Span(wlSpanId, runId, "workload", a.workload, wlStart, Clock.nowUs))
  }

  /** On-disk bytes of the tables the workload left in its warehouse, and
    * the bytes of a compact rewrite (one file per table) of their
    * current contents.
    */
  def lakeBytes(spark: SparkSession, work: String): Map[String, Long] = {
    val wh = Paths.get(work, "warehouse")
    val disk = Main.dirBytes(wh)
    val rewrite = Paths.get(work, "rewrite")
    val tables = spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name)
    tables.foreach { t =>
      spark.table(t).coalesce(1).write.mode("overwrite").parquet(rewrite.resolve(t).toString)
    }
    val live = Main.dirBytes(rewrite)
    Main.wipe(rewrite)
    Map("disk_bytes" -> disk, "live_bytes" -> live)
  }
}

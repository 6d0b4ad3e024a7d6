package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.queries.StreamGateQueries.{ExpiryClock, FoldModality, foldGate}

/** Exactly-once through a mid-batch crash, per streaming fold-gate
  * modality: [[graft.queries.StreamGateQueries.foldGate]] with its first
  * attempt of batch 2 killed after every durable effect (the batch-keyed
  * sink and the index fold) and replayed from the checkpoint must admit
  * exactly the set a crash-free run over the same staged layout admits.
  * The oracle batteries pin each gate against DuckDB; this spec pins the
  * one driver's replay contract directly, at fixture scale.
  */
class FoldGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = SparkTestSession.sf
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the gates publish StandingIndex tables — keep them out of the
      // repo's default warehouse
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("foldgate-warehouse").toString)
      .appName("fold-gate-spec")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def admitted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Clean and crashed runs at the same `n` (6 — the crash shape's) so
    * both stage the identical batch layout.
    */
  private def crashEqualsClean(m: FoldModality, clock: ExpiryClock): Unit = {
    val tag = s"fg_${m.name}_${clock.toString.toLowerCase}"
    val clean = admitted(foldGate(spark, sf, s"${tag}_clean", m, clock,
      failAt = None, batches = Some(6)))
    val crashed = admitted(foldGate(spark, sf, s"${tag}_crash", m, clock,
      failAt = Some(2L), batches = Some(6)))
    assert(clean.nonEmpty)
    assert(crashed === clean)
  }

  for (m <- Seq(FoldModality.Exact, FoldModality.NearDup, FoldModality.Vector))
    test(s"${m.name} fold: a batch-2 crash and replay admit exactly the clean run's set") {
      crashEqualsClean(m, ExpiryClock.Never)
    }

  test("watermark-clocked fold: the replay re-derives the recorded expiry threshold") {
    crashEqualsClean(FoldModality.Exact, ExpiryClock.Watermark)
  }
}

package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.matching.{MatchConfig, Matcher}
import graft.matching.CandidateGenerator.Block

/** Throwaway diagnostic: measures what the Bloom block-key pregate
  * ([[graft.blocking.BloomPregate]]) actually saves on the asymmetric
  * shape it exists for — a small probe batch matched against the full
  * corpus. Runs the same match with the pregate off and on and reports
  * wall time, total shuffle-write bytes, and shuffle-write records
  * (SparkListener task metrics), plus the row counts proving the two
  * outputs agree. Not part of the driver contract; run manually:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.BloomTime"
  */
object BloomTime {
  def main(args: Array[String]): Unit = {
    Bench.sweepStaleTemp(includeOurs = false)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 256)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    val shuffleBytes = new AtomicLong
    val shuffleRecs = new AtomicLong
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    // probe batch = 2% of the variant-0 conversations (deterministic
    // hash slice); corpus = every variant>0 conversation. Materialized
    // BEFORE measurement so the conv-assembly shuffle (common to both
    // runs) doesn't pollute the match-only numbers.
    val conv = SparkEntry.convNorm(s, dir).localCheckpoint(true)
    val probe = conv.filter(col("variant") === 0 &&
      pmod(xxhash64(col("conv_id")), lit(50)) === 0).localCheckpoint(true)
    val corpus = conv.filter(col("variant") > 0).localCheckpoint(true)
    System.err.println(s"[bloomtime] probe=${probe.count()} corpus=${corpus.count()}")

    val base = MatchConfig.reference.copy(scorer = "jaro_winkler")
    for ((label, cfg) <- Seq(
        ("pregate_off", base),
        ("pregate_on", base.copy(bloomPregateItems = 4096L)));
        run <- 1 to 2) {
      shuffleBytes.set(0); shuffleRecs.set(0)
      val t0 = System.nanoTime()
      val n = Matcher.run(Block(), probe, corpus, cfg,
        idCol = "conv_id", textCol = "text_norm").count()
      // wall time captured BEFORE the metric-settle polling below — the
      // poll sleeps must not leak into the off-vs-on comparison
      val elapsedSec = (System.nanoTime() - t0) / 1e9
      // listener events are delivered async (and the bus drain API is
      // private[spark]); poll until the counters stop moving instead
      var settled = false
      var last = -1L
      var waited = 0
      while (!settled && waited < 50) {
        Thread.sleep(100); waited += 1
        val now = shuffleBytes.get + shuffleRecs.get
        settled = now == last
        last = now
      }
      System.err.println(f"[bloomtime] $label run$run: " +
        f"$elapsedSec%.2fs " +
        f"shuffleMB=${shuffleBytes.get / 1048576.0}%.1f " +
        f"shuffleRows=${shuffleRecs.get} matches=$n")
    }
    Runtime.getRuntime.halt(0)
  }
}

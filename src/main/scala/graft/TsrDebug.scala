package graft

import graft.matching.{MatchConfig, Matcher}
import graft.matching.CandidateGenerator.Block

import org.apache.spark.sql.functions._

/** Scratch diagnostics for the flagship suite query (not part of the
  * driver contract): splits match_transcripts_tsr wall time into its
  * stages — turn derivation, conv-doc assembly + normalize, and the
  * block/score/topk join — to show where an end-to-end run spends. */
object TsrDebug {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the bench's own session factory: the diagnostic must time the
    // exact session config (join strategy, AQE, partitions) the suite
    // runs, or its stage split explains a different plan
    val s = Bench.session(32)
    s.sparkContext.setLogLevel("WARN")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[tsr] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%6.1fs")
      r
    }
    for (run <- 1 to 2) {
      System.err.println(s"[tsr] --- run $run")
      t("turns.count") {
        graft.transcripts.Transcripts.turns(s, dir, 12).toDF().count()
      }
      t("convNormV.count") {
        SparkEntryBench.convNormV(s, dir, variants = 12).count()
      }
      // cache the normalized side like Bench.transcriptMatch does —
      // the matcher references each side twice, and the shipped query
      // shape scores over cached normalize output, not a recompute
      val conv = SparkEntryBench.convNormV(s, dir, variants = 12).cache()
      t("conv cache fill") { conv.count() }
      t("match over cached conv") {
        Matcher.run(Block(),
          conv.filter(col("variant") === 0),
          conv.filter(col("variant") > 0),
          MatchConfig.reference.copy(saltBuckets = 8),
          idCol = "conv_id", textCol = "text_norm").count()
      }
      conv.unpersist()
    }
    s.stop()
    Runtime.getRuntime.halt(0)
  }
}

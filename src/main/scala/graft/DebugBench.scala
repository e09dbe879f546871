package graft

import graft.matching.{MatchConfig, Matcher}
import graft.matching.CandidateGenerator.Block
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch diagnostics for bench tuning (not part of the driver contract). */
object DebugBench {

  class StageTimes extends SparkListener {
    val rows = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, Long, Long, Long, Long)]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
      val tm = si.taskMetrics
      rows += ((si.stageId, si.numTasks, wall, tm.executorRunTime, tm.jvmGCTime,
        tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled))
    }
    def dump(tag: String): Unit = {
      println(s"=== stages [$tag] (id, tasks, wall_ms, exec_ms, gc_ms, shuf_write_mb, spill_mb):")
      rows.foreach { case (id, t, w, e, g, sw, sp) =>
        println(f"  $id%4d $t%4d $w%7d $e%8d $g%7d ${sw / 1048576}%6d ${sp / 1048576}%6d") }
      println(f"  total wall ${rows.map(_._3).sum}%d ms, total executor ${rows.map(_._4).sum}%d ms, total gc ${rows.map(_._5).sum}%d ms")
      rows.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("DEBUG_CORES", "8").toInt
    val s = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", 256)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val listener = new StageTimes
    s.sparkContext.addSparkListener(listener)

    val R = 16
    val base = SparkEntryBench.convNormV(s, dir, variants = 12)
    val conv = base
      .withColumn("rep", explode(sequence(lit(0), lit(R - 1))))
      .select(
        concat(col("conv_id"), lit("_q"), col("rep")).as("conv_id"),
        col("variant"),
        concat(format_string("q%02dx ", col("rep")), col("text_norm")).as("text_norm"))
      .cache()
    conv.count()
    val lhs = conv.filter(col("variant") === 0)
    val rhs = conv.filter(col("variant") > 0)
    val cfg = MatchConfig.reference.copy(blockBy = "digits+prefix10", saltBuckets = 8)
    val hot = Matcher.hotBlockKeys(lhs, rhs, cfg, textCol = "text_norm")
    val cfgStats = cfg.copy(knownHotKeys = Some(hot))
    def job(): Long = Matcher.run(Block(), lhs, rhs, cfgStats,
      idCol = "conv_id", textCol = "text_norm").count()
    println("=== matches: " + job()) // warmup
    Thread.sleep(500)
    listener.rows.clear()
    val t0 = System.nanoTime()
    job()
    val wall = (System.nanoTime() - t0) / 1e6
    Thread.sleep(500)
    listener.dump(s"cores=$cores")
    println(f"=== job wall: $wall%.0f ms")
    s.stop()
  }
}

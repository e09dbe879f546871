package graft.matching

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import CandidateGenerator._

/** Set-similarity candidate generation for the matcher (J37):
  * exact equivalence against a brute-force reference (single-bucket
  * cross scoring restricted to the pairs whose token Jaccard clears
  * minSim), plus partitioning invariance. Incremental equality is in
  * MatcherSpec's per-generator table. */
class SetSimMatchSpec extends SparkSpec {

  private val cfg = MatchConfig.reference.copy(scorer = "jaro_winkler")
  private val minSim = 0.5

  private def conv(sf: String): DataFrame =
    graft.SparkEntry.convNorm(spark, sf).cache()

  private def toks(c: org.apache.spark.sql.Column) =
    array_distinct(filter(split(c, "\\s+"), t => t =!= ""))

  test("matchPairsSetSimBlocked == brute force (cross scorer ∩ jaccard >= minSim)") {
    val df = conv(sf0001)
    val left = df.filter(col("variant") === 0)
    val right = df.filter(col("variant") > 0)
    val actual = Matcher.run(SetSim(minSim = minSim),
      left, right, cfg, idCol = "conv_id", textCol = "text_norm")
    // brute: score EVERY cross pair (blockBy="" = single bucket), keep
    // those whose exact token Jaccard >= minSim, rank the survivors
    val allScored = Matcher.scoredPairs(
      left, right, cfg.copy(blockBy = "", saltBuckets = 1),
      idCol = "conv_id", textCol = "text_norm")
    val jac = {
      val l = left.select(col("conv_id").as("left_id"), toks(col("text_norm")).as("lts"))
      val r = right.select(col("conv_id").as("right_id"), toks(col("text_norm")).as("rts"))
      l.crossJoin(r)
        .withColumn("inter", size(array_intersect(col("lts"), col("rts"))).cast("double"))
        .withColumn("jac",
          col("inter") / (size(col("lts")) + size(col("rts")) - col("inter")).cast("double"))
        .filter(col("jac") >= minSim)
        .select("left_id", "right_id")
    }
    val expected = Matcher.rankTopKDistinct(
      allScored.join(jac, Seq("left_id", "right_id")), cfg.topk)
    val a = actual.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(_.toString)
    val e = expected.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(_.toString)
    info(s"pairs: ${a.length}")
    assert(a.length > 0, "generator produced no matches on the fixture")
    assert(a.toSeq == e.toSeq)
  }

  test("full composite: per-left best score dominates every single generator") {
    val df = conv(sf0001)
    val left = df.filter(col("variant") === 0)
    val right = df.filter(col("variant") > 0)
    def best(m: org.apache.spark.sql.DataFrame) =
      m.groupBy("left_id").agg(max("score").as("s"))
    val comp3 = best(Matcher.run(Union(Block(), Lsh(), SetSim()),
      left, right, cfg, idCol = "conv_id", textCol = "text_norm")).cache()
    val singles = Seq(
      Matcher.run(Block(), left, right, cfg, idCol = "conv_id", textCol = "text_norm"),
      Matcher.run(Lsh(), left, right, cfg, idCol = "conv_id", textCol = "text_norm"),
      Matcher.run(SetSim(minSim = minSim), left, right, cfg,
        idCol = "conv_id", textCol = "text_norm"))
    // the composite ranks over a candidate SUPERSET of each generator,
    // so per left_id its best score can never be lower
    singles.foreach { m =>
      val worse = best(m).withColumnRenamed("s", "s1")
        .join(comp3, "left_id")
        .filter(col("s1") > col("s")).count()
      assert(worse == 0)
    }
    comp3.unpersist()
  }

  test("partitioning invariance") {
    val df = conv(sf0001)
    def run(n: Int) = Matcher.run(SetSim(minSim = minSim),
      df.filter(col("variant") === 0).repartition(n),
      df.filter(col("variant") > 0).repartition(n + 3),
      cfg, idCol = "conv_id", textCol = "text_norm")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sortBy(_.toString)
    assert(run(3).toSeq == run(13).toSeq)
  }
}

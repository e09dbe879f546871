package graft.io

import graft.SparkSpec
import graft.matching.{MatchConfig, Matcher}
import graft.matching.CandidateGenerator._
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The round-3 wiring check: the production pipeline feeds the match
  * stage from the COMMITTED hot-key snapshot statistic — no in-query
  * hot-key detection scan, no driver collect — and the output is
  * byte-identical to the detection path.
  */
class PipelineSpec extends SparkSpec {

  // salting config with a threshold low enough that sf0.001 has hot keys
  private val cfg = MatchConfig.reference.copy(saltBuckets = 4, saltHotPairs = 16L)

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("run() releases the CC result checkpoint once the clusters snapshot commits") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val root = Files.createTempDirectory("graft_pipe_free").toString
    Pipeline.run(spark, sf0001, root, cfg)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"pipeline run left RDDs pinned in executor storage: $leaked")
  }

  test("fs decision rejects a fuzz-scale splitMinScore (r06 guard)") {
    // posteriors live in [0,1]; the 0-100 default would silently strip
    // every internal edge of an oversized fs cluster (ADVICE r05)
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, sf0001,
        java.nio.file.Files.createTempDirectory("graft_pipe_guard").toString,
        cfg, decision = "fs", splitMaxMembers = Some(2))
    }
    assert(e.getMessage.contains("posterior"), e.getMessage)
  }

  test("fs decision: committed resumable stage chain; link-zone recall >= threshold path") {
    import org.apache.spark.sql.DataFrame
    import graft.matching.FellegiSunter
    val root = java.nio.file.Files.createTempDirectory("graft_pipe_fs").toString
    // γ knobs for the dense-vocab synthetic transcript corpus (the
    // corpus-density pitfall: token_set_ratio saturates at 100 on
    // subset pairs, so the graded field uses jaro_winkler and the bins
    // bracket its measured gold/noise split — gold raw ≥ 89.4, noise
    // p95 ≈ 87; ConvFsDebug measured EM λ=0.213 vs truth 0.19 and the
    // (2,1,0) anchor pattern at ratio ~900 → link)
    val fsCfgConv = FellegiSunter.FsConfig(textLo = 70, textHi = 88)
    val cfgJw = cfg.copy(scorer = "jaro_winkler")
    val res = Pipeline.run(spark, sf0001, root, cfgJw, decision = "fs",
      fsCfg = fsCfgConv)
    assert(res.stages.map(_.table) == Seq("conv_norm", "fs_gammas", "fs_params",
      "fs_zones", "fs_review", "matches", "clusters", "golden"),
      s"unexpected fs stage chain: ${res.stages.map(_.table)}")
    assert(res.review.isDefined, "fs run must expose the review queue")
    // the learned-params snapshot is one row; zones cover the observed
    // gamma patterns
    assert(res.stages.find(_.table == "fs_params").get.rows == 1L)
    assert(res.stages.find(_.table == "fs_zones").get.rows >= 1L)
    // idempotent resume THROUGH the fs chain: a second run recomputes
    // nothing
    val res2 = Pipeline.run(spark, sf0001, root, cfgJw, decision = "fs",
      fsCfg = fsCfgConv)
    assert(res2.stages.forall(_.resumed),
      s"expected full resume, got ${res2.stages.filterNot(_.resumed).map(_.table)}")

    // link-zone recall vs the fixed-threshold stage on the same fixture
    def recall(matches: DataFrame): Double = {
      val m = matches
        .withColumn("le", regexp_extract(col("left_id"), "c([0-9]+)_", 1))
        .withColumn("re", regexp_extract(col("right_id"), "c([0-9]+)_", 1))
      val tp = m.filter(col("le") === col("re"))
        .select("left_id", "right_id").distinct().count()
      val conv = TableIO.readTable(spark, root, "conv_norm")
      val gold = conv.filter(col("variant") === 0)
        .select(col("entity_id"), col("conv_id").as("l"))
        .join(conv.filter(col("variant") > 0)
          .select(col("entity_id"), col("conv_id").as("r")), "entity_id")
        .count()
      tp.toDouble / gold
    }
    val thrRoot = java.nio.file.Files.createTempDirectory("graft_pipe_thr").toString
    val thr = Pipeline.run(spark, sf0001, thrRoot, cfg)
    val (fsR, thrR) = (recall(res.matches), recall(thr.matches))
    assert(fsR >= thrR, s"fs link-zone recall $fsR < threshold-path recall $thrR")
  }

  test("split stage: committed, resumable, refines CC, feeds golden") {
    val root = Files.createTempDirectory("graft_pipe_split").toString
    val res = Pipeline.run(spark, sf0001, root, cfg,
      splitMaxMembers = Some(2), splitMinScore = 99.5)
    assert(res.stages.map(_.table) == Seq("conv_norm", "hot_keys", "matches",
      "clusters", "clusters_split", "golden"),
      s"unexpected split stage chain: ${res.stages.map(_.table)}")
    val split = TableIO.readTable(spark, root, "clusters_split")
    val cc = TableIO.readTable(spark, root, "clusters")
    // same vertex set
    assert(split.select("id").exceptAll(cc.select("id")).count() == 0 &&
      cc.select("id").exceptAll(split.select("id")).count() == 0)
    // escalation only refines: each split component sits inside ONE CC
    // component
    val spans = split.select(col("id"), col("component").as("sc"))
      .join(cc.select(col("id"), col("component").as("c")), "id")
      .groupBy("sc").agg(countDistinct("c").as("d"))
      .filter(col("d") > 1).count()
    assert(spans == 0, s"$spans split components span CC components")
    // golden is keyed by the REPAIRED assignments
    assert(res.golden.count() ==
      split.select("component").distinct().count())
    // idempotent resume through the split chain
    val res2 = Pipeline.run(spark, sf0001, root, cfg,
      splitMaxMembers = Some(2), splitMinScore = 99.5)
    assert(res2.stages.forall(_.resumed),
      s"expected full resume, got ${res2.stages.filterNot(_.resumed).map(_.table)}")
  }

  test("match stage salts from the snapshot statistic, not an in-query scan") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val res = Pipeline.run(spark, sf0001, root, cfg)
    assert(res.stages.map(_.table) ==
      Seq("conv_norm", "hot_keys", "matches", "clusters", "golden"))
    // every clustered record is represented in exactly one golden row
    assert(res.golden.agg(sum("n_members")).collect()(0).getLong(0) ==
      res.clusters.count())
    val hotRows = res.stages.find(_.table == "hot_keys").get.rows
    assert(hotRows > 0, "expected hot keys at this salt threshold")

    // rebuild the match stage exactly as run() does, from the committed
    // snapshots, and check the plan
    val convNorm = TableIO.readTable(spark, root, "conv_norm")
    val hotKeys = TableIO.readTable(spark, root, "hot_keys")
    val m = Pipeline.matchStageDf(convNorm, cfg, Some(hotKeys))
    val p = plan(m)
    assert(p.contains("Broadcast"), s"hot-key flag not broadcast:\n$p")
    // the snapshot-statistic path has no detection aggregates: the
    // in-query scan's count columns (nl/nr) must be absent
    assert(!p.contains("nl#") && !p.contains("nr#"),
      s"in-query hot-key detection scan still present:\n$p")
    // the broadcast side is fed by the hot_keys snapshot's parquet scan
    assert(p.contains("hot_keys"), s"hot_keys snapshot not in the plan:\n$p")

    // and the statistic-fed path is semantically identical to detection
    val lhs = convNorm.filter(col("variant") === 0)
    val rhs = convNorm.filter(col("variant") > 0)
    val viaDetection = Matcher.run(Block(), lhs, rhs, cfg,
      idCol = "conv_id", textCol = "text_norm")
    assert(m.exceptAll(viaDetection).isEmpty && viaDetection.exceptAll(m).isEmpty,
      "snapshot-statistic match differs from detection-path match")
  }
}

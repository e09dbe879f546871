package graft.pipeline

import graft.cluster.ConnectedComponents
import graft.io.TableIO
import graft.matching.{FellegiSunter, MatchConfig, Matcher}
import graft.matching.CandidateGenerator.Block
import graft.normalize.Normalizer
import graft.similarity.FuzzFunctions
import graft.transcripts.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end record-linkage pipeline over transcript tables —
  * the Spark rebuild of run_pipeline.py's normalize → match → preview
  * flow (SURVEY.md §3.1) plus the north-rule clustering stage:
  *
  *   turns → conv docs (stable (conv_id, turn_idx) order) → normalize →
  *   [hot-key statistic] → block → score → threshold/topk → matches →
  *   connected components → clusters, with every stage committed as a
  *   TableIO snapshot so the whole pipeline resumes idempotently from
  *   the last committed stage (the reference's per-process CSV handoff,
  *   upgraded to atomic snapshot tables).
  *
  * The `hot_keys` stage is the per-snapshot table statistic the scale
  * story depends on: the block-key histogram's hot set is computed ONCE
  * when the normalize snapshot commits and fed to every subsequent
  * match over that snapshot as a DataFrame
  * ([[MatchConfig.knownHotKeysDf]]) — the match stage then salts
  * exactly those keys with no in-query detection scan and no driver
  * round-trip anywhere in the path.
  *
  * `decision` picks how scored candidates become accepted matches:
  *
  *   - `"threshold"` (default) — the reference's hand-weighted combine
  *     + fixed threshold/top-k (`Matcher.run(Block(), …)`);
  *   - `"fs"` — the LEARNED-weights path: per-pair comparison vectors
  *     from the configured generator ([[FellegiSunter.gammaPairs]],
  *     same block discipline and scorer as the threshold path),
  *     unsupervised EM fit, the FS 1969 three-zone rule, LINK-zone
  *     pairs as the matches table (posterior as score) and the
  *     POSSIBLE-zone pairs committed as a `fs_review` snapshot — the
  *     clerical-review queue a production linkage pipeline routes to
  *     humans. Every step (`fs_gammas`, `fs_params`, `fs_zones`,
  *     `fs_review`, `matches`) is its own committed, resumable stage,
  *     so the learned path has the same restart/idempotence story as
  *     the fixed-threshold one.
  */
object Pipeline {

  case class StageResult(table: String, rows: Long, resumed: Boolean)
  case class Result(
      stages: Seq[StageResult],
      matches: DataFrame,
      clusters: DataFrame,
      golden: DataFrame,
      review: Option[DataFrame] = None)

  /** The match-stage DataFrame exactly as [[run]] computes it: salted
    * with the committed hot-key statistic when the config salts and no
    * explicit hot set was supplied. Exposed so specs can assert the
    * production plan shape (broadcast hot flag fed by the snapshot
    * scan, no detection aggregates). */
  def matchStageDf(
      convNorm: DataFrame, cfg: MatchConfig,
      hotKeys: Option[DataFrame]): DataFrame = {
    val matchCfg =
      if (cfg.saltBuckets > 1 && cfg.knownHotKeys.isEmpty && cfg.knownHotKeysDf.isEmpty)
        cfg.copy(knownHotKeysDf = hotKeys)
      else cfg
    Matcher.run(Block(),
      convNorm.filter(col("variant") === 0),
      convNorm.filter(col("variant") > 0),
      matchCfg, idCol = "conv_id", textCol = "text_norm")
  }

  def run(
      spark: SparkSession,
      sfDir: String,
      workRoot: String,
      cfg: MatchConfig = MatchConfig.reference,
      variants: Int = 3,
      decision: String = "threshold",
      fsCfg: FellegiSunter.FsConfig = FellegiSunter.FsConfig(),
      fsMu: Double = 0.01,
      fsLambdaErr: Double = 0.01,
      splitMaxMembers: Option[Int] = None,
      splitMinScore: Double = 95.0): Result = {
    require(decision == "threshold" || decision == "fs",
      s"decision must be 'threshold' or 'fs': '$decision'")
    // Score scales differ per decision path: the threshold path's
    // matches carry the 0-100 fuzz score, the fs path's carry an EM
    // POSTERIOR in [0,1]. The default splitMinScore (95.0) silently
    // strips EVERY internal edge of an oversized cluster under fs
    // (all posteriors < 95 → shattered into singletons with no error),
    // so reject the combination loudly (ADVICE r05).
    require(decision != "fs" || splitMaxMembers.isEmpty || splitMinScore <= 1.0,
      s"decision='fs' scores are posteriors in [0,1] but splitMinScore=$splitMinScore " +
        "is on the 0-100 fuzz scale; pass a splitMinScore <= 1.0 " +
        "(e.g. the review-zone lower posterior) when splitting fs clusters")
    val cfgHash = TableIO.lineageHash(Map(
      "scorer" -> cfg.scorer, "threshold" -> cfg.threshold.toString,
      "topk" -> cfg.topk.toString, "block" -> cfg.blockBy,
      "salt" -> cfg.saltBuckets.toString, "saltHot" -> cfg.saltHotPairs.toString,
      "variants" -> variants.toString, "decision" -> decision,
      "fsIters" -> fsCfg.iters.toString, "fsMu" -> fsMu.toString,
      "fsLambdaErr" -> fsLambdaErr.toString,
      "fsBins" -> Seq(fsCfg.textLo, fsCfg.textHi, fsCfg.geoLo, fsCfg.geoHi)
        .mkString(","),
      "split" -> splitMaxMembers.map(m => s"$m@$splitMinScore").getOrElse("off")))
    def lineage(stage: String, extra: (String, String)*): Map[String, String] =
      Map("input" -> sfDir, "stage" -> stage, "config" -> cfgHash) ++ extra

    val (convNorm, r1) = TableIO.resumeOrCompute(spark, workRoot, "conv_norm",
      lineage("conv_norm")) {
      Transcripts.turns(spark, sfDir, variants).toDF()
        .groupBy(col("conv_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("turn_idx"), col("text")))),
          x => x.getField("text")), "").as("doc"))
        .select(
          col("conv_id"),
          regexp_extract(col("conv_id"), "c([0-9]+)_", 1).cast("bigint").as("entity_id"),
          regexp_extract(col("conv_id"), "_([0-9]+)$", 1).cast("int").as("variant"),
          Normalizer.normalize(col("doc")).as("text_norm"))
    }

    // ---- decision-specific stages: scored candidates → accepted matches
    var review: Option[DataFrame] = None
    val (preStages, matches, matchesResumed) =
      if (decision == "fs") {
        // learned-weights path: γ vectors from the SAME generator
        // discipline as the threshold path (block join on cfg.blockBy,
        // cfg.scorer as the graded text comparator, plus the
        // exact-token-set-agreement field — gammaPairsText scaladoc on
        // why a text-only corpus needs the second field for EM
        // identifiability), then EM + the three-zone rule — each its
        // own committed stage, so a restart resumes mid-chain (e.g.
        // after fs_params) like any other stage
        val (gammas, rg) = TableIO.resumeOrCompute(spark, workRoot, "fs_gammas",
          lineage("fs_gammas")) {
          FellegiSunter.gammaPairsText(
            convNorm.filter(col("variant") === 0),
            convNorm.filter(col("variant") > 0),
            fsCfg, cfg.blockBy, FuzzFunctions.scorer(cfg.scorer),
            idCol = "conv_id", textCol = "text_norm")
        }
        val (params, rp) = TableIO.resumeOrCompute(spark, workRoot, "fs_params",
          lineage("fs_params")) {
          FellegiSunter.emFit(FellegiSunter.gammaCounts(gammas), fsCfg)
        }
        val (zones, rz) = TableIO.resumeOrCompute(spark, workRoot, "fs_zones",
          lineage("fs_zones")) {
          FellegiSunter.decisionZones(
            FellegiSunter.gammaCounts(gammas), params, fsMu, fsLambdaErr)
        }
        val (rev, rr) = TableIO.resumeOrCompute(spark, workRoot, "fs_review",
          lineage("fs_review")) {
          FellegiSunter.reviewQueue(gammas, zones)
        }
        review = Some(rev)
        val (m, rm) = TableIO.resumeOrCompute(spark, workRoot, "matches",
          lineage("matches")) {
          // LINK-zone pairs with the learned posterior as the score —
          // the same (left_id, right_id, score) shape the downstream
          // CC/golden stages consume on the threshold path
          FellegiSunter.matchPosteriors(gammas, params, threshold = 0.0)
            .join(broadcast(zones.filter(col("zone") === "link")
              .select("g_t", "g_d", "g_g")), Seq("g_t", "g_d", "g_g"))
            .select(col("left_id"), col("right_id"),
              col("posterior").as("score"))
        }
        (Seq(
          StageResult("fs_gammas", gammas.count(), rg),
          StageResult("fs_params", params.count(), rp),
          StageResult("fs_zones", zones.count(), rz),
          StageResult("fs_review", rev.count(), rr)), m, rm)
      } else {
        // normalize-commit-time statistic: hot block keys of THIS
        // snapshot, as a snapshot table of their own (a DataFrame end
        // to end — no collect in the production path). Only computed
        // when the match stage will actually salt with it: on a
        // non-salting config the two full-corpus histogram aggregations
        // would be pure waste.
        val needsHotKeys =
          cfg.saltBuckets > 1 && cfg.knownHotKeys.isEmpty && cfg.knownHotKeysDf.isEmpty
        val hotStage =
          if (needsHotKeys)
            Some(TableIO.resumeOrCompute(spark, workRoot, "hot_keys",
              lineage("hot_keys")) {
              Matcher.hotBlockKeysDf(
                convNorm.filter(col("variant") === 0),
                convNorm.filter(col("variant") > 0),
                cfg, textCol = "text_norm")
            })
          else None
        val (m, rm) = TableIO.resumeOrCompute(spark, workRoot, "matches",
          lineage("matches")) {
          matchStageDf(convNorm, cfg, hotStage.map(_._1))
        }
        (hotStage.map { case (df, resumed) =>
          StageResult("hot_keys", df.count(), resumed)
        }.toSeq, m, rm)
      }

    // CC returns an eager localCheckpoint (vertex-sized, pinned in
    // executor storage for the session). The snapshot commit below is
    // the durable copy, so free the checkpoint once committed —
    // without this, repeated pipeline runs in a long-lived session
    // accumulate one pinned vertex set per run.
    var ccResult: Option[DataFrame] = None
    val (clusters, r3) = TableIO.resumeOrCompute(spark, workRoot, "clusters",
      lineage("clusters")) {
      val r = ConnectedComponents.run(matches, "left_id", "right_id")
      ccResult = Some(r)
      r
    }
    ccResult.foreach(graft.util.CheckpointHygiene.free)

    // optional over-merge repair (A19): clusters beyond
    // splitMaxMembers re-cluster their internal match edges at the
    // escalated splitMinScore — its own committed, resumable stage;
    // downstream stages consume the REPAIRED assignments
    // ([[graft.cluster.ClusterSplit]] scaladoc on why a
    // boilerplate-heavy corpus needs this seat in the pipeline, not
    // just as an ad-hoc query).
    val splitStage = splitMaxMembers.map { maxM =>
      var splitCkpt: Option[DataFrame] = None
      val (df, resumed) = TableIO.resumeOrCompute(spark, workRoot, "clusters_split",
        lineage("clusters_split")) {
        val r = graft.cluster.ClusterSplit.splitOversized(
          matches, clusters, maxM, splitMinScore)
        splitCkpt = Some(r)
        r
      }
      splitCkpt.foreach(graft.util.CheckpointHygiene.free)
      (df, resumed)
    }
    val effectiveClusters = splitStage
      .map(_._1.select(col("id"), col("component")))
      .getOrElse(clusters)

    // survivorship: one canonical record per entity cluster — the
    // pipeline's user-facing output table (GoldenRecord scaladoc).
    // Reads the committed clusters (or repaired clusters_split)
    // snapshot, so it resumes like any other stage.
    val (golden, r4) = TableIO.resumeOrCompute(spark, workRoot, "golden",
      lineage("golden")) {
      graft.cluster.GoldenRecord.merge(
        convNorm.select(col("conv_id").as("id"), col("text_norm")),
        effectiveClusters, idCol = "id", textCol = "text_norm")
    }

    Result(
      Seq(StageResult("conv_norm", convNorm.count(), r1)) ++
        preStages ++
        Seq(
          StageResult("matches", matches.count(), matchesResumed),
          StageResult("clusters", clusters.count(), r3)) ++
        splitStage.map { case (df, resumed) =>
          StageResult("clusters_split", df.count(), resumed)
        }.toSeq ++
        Seq(StageResult("golden", golden.count(), r4)),
      matches, effectiveClusters, golden, review)
  }
}

package graft.streaming

import graft.io.TableIO
import graft.matching.{MatchConfig, Matcher, PairwiseGenerator}
import graft.matching.CandidateGenerator.{Block, Lsh, SetSim, Union}
import graft.cluster.ConnectedComponents
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming entity resolution: a stream of right-side rows folded,
  * micro-batch by micro-batch, into two committed snapshot tables —
  * the capstone composition of this round's incremental operators:
  *
  *   - `matches`: the current top-k linkage view. Per batch the new
  *     rows are scored against the (static, committed) left side and
  *     re-ranked together with the prior snapshot —
  *     [[Matcher.incremental]] with an empty left increment, so after
  *     the stream drains the table PROVABLY equals the batch
  *     `Matcher.run(gen, left, allRights)` (subset-rank argument in that
  *     scaladoc; pair replays collapse via
  *     [[Matcher.rankTopKDistinct]]). PRECONDITION: the stream is
  *     append-plus-replay — a re-delivered row carries the SAME
  *     payload. A row re-delivered with a CHANGED payload (an upsert)
  *     keeps its best-ever score in the fold (the dedup retains the
  *     max-scored occurrence, so a downgraded payload can never lower
  *     or evict its stale match); correcting payloads requires
  *     re-committing the prior matches table without the affected
  *     pairs (compaction), which this sink deliberately does not do
  *     inline.
  *   - `clusters`: transitive entities over every accepted
  *     (thresholded) scored pair ever seen, folded with
  *     [[ConnectedComponents.runIncremental]]'s star-contraction
  *     union. Clustering is MONOTONE-MERGE by design: a later,
  *     better-scoring match can evict a pair from the top-k `matches`
  *     view but never unmerges an entity — the standard ER
  *     accumulate-evidence semantics (you can't un-ship a merge
  *     downstream), and the shape incremental CC is exact for. The
  *     batch equivalent is CC over `gen.scored(left, allRights)`,
  *     NOT over the top-k'd match result.
  *
  * Scale shape: per batch the work is O(left-block ∩ batch) scoring +
  * one re-rank over (top-k snapshot ∪ batch scores) + CC rounds driven
  * by the batch's diameter (the untouched entity graph enters as star
  * edges, one round from convergence). Nothing rescans the right-side
  * history; state lives in committed snapshots (resumable, atomic),
  * not in executor memory — the only shape that survives an unbounded
  * stream. Exactly-once to the snapshot tables comes from the manifest
  * lineage: a replayed batch id re-commits idempotent content (pair
  * dedup + CC idempotence), never double-counts.
  *
  * The candidate `generator` is pluggable by name, resolved once per
  * batch to a [[PairwiseGenerator]]: "block" → `Block(hasGeo)`
  * (derived block key, J3), "lsh" → `Lsh()` (MinHash-LSH banding,
  * J23), "setsim" → `SetSim()` (the exact prefix-filtered
  * set-similarity join, J37 — the provable recall floor) or
  * "composite_full" → `Union(Block(), Lsh(), SetSim())` (all three
  * families in one ranking, J24b — the highest-recall candidate set).
  * The drain-equality proof only needs candidacy to be a per-pair
  * property, which is exactly what [[PairwiseGenerator]] promises.
  *
  * With `commitGolden = true` the sink also folds the SURVIVORSHIP
  * table per batch — `members` (every record seen, id-deduped) and
  * `golden` (one canonical row per entity cluster, via the
  * touched-component incremental fold
  * [[graft.cluster.GoldenRecord.mergeIncremental]]) — closing the full
  * streaming ER loop match → cluster → golden in committed snapshots.
  *
  * With `commitDrift = true` it also commits one
  * [[graft.cluster.AssignmentDrift.drift]] metrics row per folded
  * batch (prior clusters vs the fold's output) into a `drift` table —
  * the per-batch monitoring feed whose invariants
  * (n_split_components = 0, pair_recall ∈ {1.0, NULL}) alarm on state
  * corruption the moment a fold violates them. */
object StreamingLink {

  /** The sink's generator names. The composite is text-only: its block
    * leg keeps `hasGeo = false` so the combine matches the batch
    * `Matcher.run(Union(Block(), Lsh(), SetSim()), …)`. */
  private def generatorNamed(name: String, hasGeo: Boolean): PairwiseGenerator =
    name match {
      case "block" => Block(hasGeo)
      case "lsh" => Lsh()
      case "setsim" => SetSim()
      case "composite_full" => Union(Block(), Lsh(), SetSim())
      case other => throw new IllegalArgumentException(
        s"generator must be 'block', 'lsh', 'setsim' or 'composite_full': '$other'")
    }

  /** Fold ONE micro-batch of right rows into the `matches` and
    * `clusters` snapshot tables under `root`. Exposed separately from
    * the stream wiring so batch backfills and tests drive the exact
    * code the sink runs. */
  def foldBatch(
      batch: DataFrame,
      left: DataFrame,
      cfg: MatchConfig,
      root: String,
      idCol: String = "id",
      textCol: String = "text",
      hasGeo: Boolean = false,
      batchId: Long = 0L,
      keepSnapshots: Int = 2,
      ccMaxIter: Int = 25,
      ccCheckEvery: Int = 1,
      generator: String = "block",
      commitGolden: Boolean = false,
      commitDrift: Boolean = false): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    // The scored candidate set returns exactly (left_id, right_id,
    // score); it feeds both tables below — cut the plan once so the
    // candidate join runs one time per batch, not once per sink table.
    // Candidacy is per-pair, so the union of per-batch candidate sets
    // IS the full candidate set and replays collapse in the
    // deterministic re-rank ([[Matcher.incremental]] scaladoc).
    //
    // Huge-committed-LEFT × small-batch-RIGHT, so when the bloom
    // pregate is on the sketch must be built over the BATCH and thin
    // the corpus — the "left" orientation, the same flip
    // Matcher.incremental applies to its old × new leg; inheriting the
    // caller's per-ingest default ("right") would scan the whole
    // corpus to build a sketch that thins the already-tiny batch.
    val scoredMat = generatorNamed(generator, hasGeo)
      .scored(left, batch, cfg.copy(bloomPregateSide = "left"), idCol, textCol)
      .localCheckpoint(true)

    val matches = TableIO.latestSnapshotId(root, "matches") match {
      case Some(_) =>
        Matcher.rankTopKDistinct(
          TableIO.readTable(spark, root, "matches").unionByName(scoredMat),
          cfg.topk)
      case None => Matcher.rankTopKDistinct(scoredMat, cfg.topk)
    }
    TableIO.commitSnapshot(matches, root, "matches",
      Map("stage" -> "matches", "batch" -> batchId.toString))

    // strict: an unconverged CC result must FAIL the batch (streaming
    // retries it) — committing it would bake wrong components into the
    // prior star set of every subsequent fold, with no signal. The
    // matches table above is already committed when that throw happens;
    // that divergence is safe (retries re-commit idempotent matches
    // content and clusters catches up on the batch that converges) but
    // external readers joining the two tables can observe matches a
    // batch ahead of clusters until then. ccMaxIter/ccCheckEvery are
    // the remediation knobs the strict error message names — a graph
    // that legitimately needs more rounds raises them here.
    val priorClusters = TableIO.latestSnapshotId(root, "clusters")
      .map(_ => TableIO.readTable(spark, root, "clusters"))
    val clusters = priorClusters match {
      case Some(pc) =>
        ConnectedComponents.runIncremental(
          pc, scoredMat,
          "left_id", "right_id", maxIter = ccMaxIter,
          checkEvery = ccCheckEvery, strict = true)
      case None =>
        ConnectedComponents.run(scoredMat, "left_id", "right_id",
          maxIter = ccMaxIter, checkEvery = ccCheckEvery, strict = true)
    }
    TableIO.commitSnapshot(clusters, root, "clusters",
      Map("stage" -> "clusters", "batch" -> batchId.toString))

    // Optional survivorship table: the full streaming ER loop
    // (match → cluster → golden) lands in committed snapshots. The
    // `members` table accumulates every record seen (left side + each
    // batch, deduped by id — replay-idempotent under the sink's
    // append-plus-replay precondition), and the golden fold recomputes
    // ONLY clusters the batch touched ([[graft.cluster.GoldenRecord
    // .mergeIncremental]]'s proof makes the drained table provably =
    // merge over the batch clusters). A replayed batch moves no member
    // to a new label, so the recompute set is empty and the golden
    // content re-commits unchanged.
    if (commitGolden) {
      val canon = (df: DataFrame) =>
        df.select(col(idCol).as("id"), col(textCol).as("text"))
      val batchMembers = canon(left).unionByName(canon(batch))
      val members = (TableIO.latestSnapshotId(root, "members") match {
        case Some(_) =>
          TableIO.readTable(spark, root, "members").unionByName(batchMembers)
        case None => batchMembers
      }).groupBy("id").agg(org.apache.spark.sql.functions.max("text").as("text"))
      TableIO.commitSnapshot(members, root, "members",
        Map("stage" -> "members", "batch" -> batchId.toString))
      val membersCommitted = TableIO.readTable(spark, root, "members")
      val golden = (TableIO.latestSnapshotId(root, "golden"), priorClusters) match {
        case (Some(_), Some(pc)) =>
          graft.cluster.GoldenRecord.mergeIncremental(
            TableIO.readTable(spark, root, "golden"), pc, clusters,
            membersCommitted)
        case _ =>
          graft.cluster.GoldenRecord.merge(membersCommitted, clusters)
      }
      TableIO.commitSnapshot(golden, root, "golden",
        Map("stage" -> "golden", "batch" -> batchId.toString))
      TableIO.expireSnapshots(root, "members", keepSnapshots)
      TableIO.expireSnapshots(root, "golden", keepSnapshots)
    }
    // Optional per-batch drift metrics (A20): the committed monitoring
    // row the north rule's "per-partition lineage + metrics" clause
    // asks for — one [[graft.cluster.AssignmentDrift.drift]] row per
    // folded batch (prior clusters vs the fold's output), accumulated
    // in a `drift` snapshot table keyed by batch id. The incremental
    // fold only adds edges, so every committed row must show
    // n_split_components = 0 and pair_recall ∈ {1.0, NULL} — a
    // violation in this table is the earliest machine-readable alarm
    // for state corruption. Replay-idempotent: an already-folded
    // batch's id is left-anti'd out, so its original row (the one
    // measuring the REAL fold) is never overwritten by the replay's
    // zero-churn measurement.
    if (commitDrift) {
      val priorAsg = priorClusters.getOrElse(clusters.limit(0))
      val drift = graft.cluster.AssignmentDrift.drift(priorAsg, clusters)
        .withColumn("batch", org.apache.spark.sql.functions.lit(batchId))
      val driftTable = TableIO.latestSnapshotId(root, "drift") match {
        case Some(_) =>
          val existing = TableIO.readTable(spark, root, "drift")
          existing.unionByName(
            drift.join(existing.select("batch").distinct(),
              Seq("batch"), "left_anti"))
        case None => drift
      }
      TableIO.commitSnapshot(driftTable, root, "drift",
        Map("stage" -> "drift", "batch" -> batchId.toString))
      TableIO.expireSnapshots(root, "drift", keepSnapshots)
    }
    // the snapshots are the durable copies — release the eager
    // checkpoints so an unbounded stream doesn't pin one CC result +
    // one scored batch in executor storage per micro-batch
    graft.util.CheckpointHygiene.free(clusters)
    graft.util.CheckpointHygiene.free(scoredMat)
    // ... and expire superseded snapshots so disk doesn't grow
    // O(batches × state) either — each commit is a FULL state copy
    // (that's what makes the fold restart-safe), so only the newest
    // few are live. keepSnapshots is the CONCURRENT-READER retention
    // window (see expireSnapshots scaladoc): an external reader's job
    // must finish within keepSnapshots-1 commit cycles of resolving
    // its snapshot, or its files can be expired mid-scan — size it to
    // max reader latency / batch interval, Iceberg-style.
    TableIO.expireSnapshots(root, "matches", keepSnapshots)
    TableIO.expireSnapshots(root, "clusters", keepSnapshots)
  }

  /** Wire a streaming right-side source into [[foldBatch]]. */
  def incrementalLinkSink(
      rightStream: DataFrame,
      left: DataFrame,
      cfg: MatchConfig,
      root: String,
      checkpointDir: String,
      idCol: String = "id",
      textCol: String = "text",
      hasGeo: Boolean = false,
      keepSnapshots: Int = 2,
      ccMaxIter: Int = 25,
      ccCheckEvery: Int = 1,
      generator: String = "block",
      commitGolden: Boolean = false,
      commitDrift: Boolean = false): StreamingQuery = {
    val fold: (Dataset[Row], Long) => Unit = (batch, id) =>
      foldBatch(batch.toDF(), left, cfg, root, idCol, textCol, hasGeo, id,
        keepSnapshots, ccMaxIter, ccCheckEvery, generator, commitGolden, commitDrift)
    rightStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fold)
      .start()
  }
}

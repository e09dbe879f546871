package graft.streaming

import graft.SparkSpec
import graft.cluster.ConnectedComponents
import graft.fixtures.AddressFixture
import graft.io.TableIO
import graft.matching.{MatchConfig, Matcher}
import graft.matching.CandidateGenerator._
import graft.normalize.Normalizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

case class RightRow(id: String, address: String)

/** End-to-end: streaming incremental linkage over micro-batches lands
  * exactly the batch result — matches (top-k view, incremental rank)
  * and clusters (monotone merge, incremental CC) — and a replayed
  * batch is a no-op on the committed state. */
class StreamingLinkSpec extends SparkSpec {

  private def norm(df: DataFrame): DataFrame =
    df.withColumn("address_norm", Normalizer.normalizeAddress(col("address")))

  private val cfg = MatchConfig(
    scorer = "token_set_ratio", threshold = 70, topk = 3,
    blockBy = "digits+prefix6", wText = 0.8, wDigits = 0.2, wGeo = 0.0)

  test("streamed micro-batches drain to the exact batch matches + clusters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_slink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_slink_ck").toString

    val left = norm(AddressFixture.left(spark, sf0001))
    val rightAll = AddressFixture.rightAll(spark, sf0001)
    val rows = rightAll.select("id", "address").collect()
      .map(r => RightRow(r.getString(0), r.getString(1)))

    val mem = MemoryStream[RightRow]
    val q = StreamingLink.incrementalLinkSink(
      norm(mem.toDF()), left, cfg, root, ckpt,
      idCol = "id", textCol = "address_norm")
    try {
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
      // at-least-once replay of the first batch: a new snapshot id is
      // committed (the fold runs) but its CONTENT must be unchanged
      val before = (TableIO.latestSnapshotId(root, "matches").get,
        TableIO.readTable(spark, root, "matches").count(),
        TableIO.readTable(spark, root, "clusters").count())
      mem.addData(rows.take(rows.length / 3 + 1).toSeq: _*)
      q.processAllAvailable()
      assert(TableIO.latestSnapshotId(root, "matches").get > before._1)
      assert(TableIO.readTable(spark, root, "matches").count() == before._2)
      assert(TableIO.readTable(spark, root, "clusters").count() == before._3)
      // snapshot retention: 4 batches committed, only keepSnapshots=2
      // newest survive per table (disk must not grow O(batches))
      for (t <- Seq("matches", "clusters")) {
        val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root, t))
          .iterator().asScala.count(_.getFileName.toString.startsWith("snapshot="))
        assert(dirs == 2, s"$t retains $dirs snapshots, expected 2")
      }
    } finally q.stop()

    val expectedM = Matcher.run(Block(), left, norm(rightAll), cfg,
      idCol = "id", textCol = "address_norm")
    val gotM = TableIO.readTable(spark, root, "matches")
    assert(gotM.exceptAll(expectedM).count() == 0 &&
      expectedM.exceptAll(gotM).count() == 0,
      "streamed matches != batch Matcher.run(Block())")

    // monotone-merge semantics: clusters over ALL accepted scored
    // pairs (not the top-k'd view) — see StreamingLink scaladoc
    val expectedC = ConnectedComponents.run(
      Matcher.scoredPairs(left, norm(rightAll), cfg,
        idCol = "id", textCol = "address_norm"), "left_id", "right_id")
    val gotC = TableIO.readTable(spark, root, "clusters")
    assert(gotC.exceptAll(expectedC).count() == 0 &&
      expectedC.exceptAll(gotC).count() == 0,
      "streamed clusters != batch CC over accepted pairs")
  }

  test("LSH-generator stream drains to the exact batch LSH match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_slsh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_slsh_ck").toString

    val left = norm(AddressFixture.left(spark, sf0001))
    val rightAll = AddressFixture.rightAll(spark, sf0001)
    val rows = rightAll.select("id", "address").collect()
      .map(r => RightRow(r.getString(0), r.getString(1)))
    val cLsh = cfg.copy(scorer = "jaro_winkler", blockBy = "")

    val mem = MemoryStream[RightRow]
    val q = StreamingLink.incrementalLinkSink(
      norm(mem.toDF()), left, cLsh, root, ckpt,
      idCol = "id", textCol = "address_norm", generator = "lsh")
    try {
      rows.grouped(rows.length / 2 + 1).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val expectedM = Matcher.run(Lsh(), left, norm(rightAll), cLsh,
      idCol = "id", textCol = "address_norm")
    val gotM = TableIO.readTable(spark, root, "matches")
    assert(gotM.exceptAll(expectedM).count() == 0 &&
      expectedM.exceptAll(gotM).count() == 0,
      "streamed LSH matches != batch Matcher.run(Lsh())")

    val expectedC = ConnectedComponents.run(
      Matcher.scoredPairsLshBlocked(left, norm(rightAll), cLsh,
        idCol = "id", textCol = "address_norm"), "left_id", "right_id")
    val gotC = TableIO.readTable(spark, root, "clusters")
    assert(gotC.exceptAll(expectedC).count() == 0 &&
      expectedC.exceptAll(gotC).count() == 0,
      "streamed LSH clusters != batch CC over banded accepted pairs")
  }

  test("composite_full-generator stream drains to the exact batch comp3 match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_scf").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_scf_ck").toString

    val left = norm(AddressFixture.left(spark, sf0001))
    val rightAll = AddressFixture.rightAll(spark, sf0001)
    val rows = rightAll.select("id", "address").collect()
      .map(r => RightRow(r.getString(0), r.getString(1)))
    val cJw = cfg.copy(scorer = "jaro_winkler")

    val mem = MemoryStream[RightRow]
    val q = StreamingLink.incrementalLinkSink(
      norm(mem.toDF()), left, cJw, root, ckpt,
      idCol = "id", textCol = "address_norm", generator = "composite_full")
    try {
      rows.grouped(rows.length / 2 + 1).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    // batch twin: the full three-generator composite ranking — the
    // sink can now run the engine's highest-recall candidate set
    val expectedM = Matcher.run(Union(Block(), Lsh(), SetSim()), left, norm(rightAll), cJw,
      idCol = "id", textCol = "address_norm")
    val gotM = TableIO.readTable(spark, root, "matches")
    assert(gotM.exceptAll(expectedM).count() == 0 &&
      expectedM.exceptAll(gotM).count() == 0,
      "streamed composite_full matches != batch Matcher.run(Union(Block(), Lsh(), SetSim()))")

    val expectedC = ConnectedComponents.run(
      Matcher.scoredPairs(left, norm(rightAll), cJw,
          idCol = "id", textCol = "address_norm", hasGeo = false)
        .unionByName(Matcher.scoredPairsLshBlocked(left, norm(rightAll), cJw,
          idCol = "id", textCol = "address_norm"))
        .unionByName(Matcher.scoredPairsSetSimBlocked(left, norm(rightAll), cJw,
          idCol = "id", textCol = "address_norm")),
      "left_id", "right_id")
    val gotC = TableIO.readTable(spark, root, "clusters")
    assert(gotC.exceptAll(expectedC).count() == 0 &&
      expectedC.exceptAll(gotC).count() == 0,
      "streamed composite_full clusters != batch CC over the union legs")
  }

  test("commitGolden stream drains the survivorship table to the exact batch merge") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sgold").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sgold_ck").toString

    val left = norm(AddressFixture.left(spark, sf0001))
    val rightAll = AddressFixture.rightAll(spark, sf0001)
    val rows = rightAll.select("id", "address").collect()
      .map(r => RightRow(r.getString(0), r.getString(1)))

    val mem = MemoryStream[RightRow]
    val q = StreamingLink.incrementalLinkSink(
      norm(mem.toDF()), left, cfg, root, ckpt,
      idCol = "id", textCol = "address_norm", commitGolden = true)
    try {
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
      // replay idempotence: content of golden unchanged
      val before = TableIO.readTable(spark, root, "golden").count()
      mem.addData(rows.take(rows.length / 3 + 1).toSeq: _*)
      q.processAllAvailable()
      assert(TableIO.readTable(spark, root, "golden").count() == before)
    } finally q.stop()

    // batch twin: survivorship over CC of all accepted scored pairs,
    // records = left ∪ every streamed right row
    val membersAll = left.select(col("id"), col("address_norm").as("text"))
      .unionByName(norm(rightAll).select(col("id"), col("address_norm").as("text")))
      .groupBy("id").agg(max("text").as("text"))
    val clustersAll = ConnectedComponents.run(
      Matcher.scoredPairs(left, norm(rightAll), cfg,
        idCol = "id", textCol = "address_norm"), "left_id", "right_id")
    val expectedG = graft.cluster.GoldenRecord.merge(membersAll, clustersAll)
    val gotG = TableIO.readTable(spark, root, "golden")
    assert(gotG.exceptAll(expectedG).count() == 0 &&
      expectedG.exceptAll(gotG).count() == 0,
      "streamed golden != batch GoldenRecord.merge over drained clusters")
    // members retention follows keepSnapshots like every other table
    import scala.jdk.CollectionConverters._
    for (t <- Seq("members", "golden")) {
      val dirs = java.nio.file.Files.list(java.nio.file.Paths.get(root, t))
        .iterator().asScala.count(_.getFileName.toString.startsWith("snapshot="))
      assert(dirs <= 2, s"$t retains $dirs snapshots, expected <= 2")
    }
  }

  test("commitDrift stream commits one invariant-clean metrics row per batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sdrift").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sdrift_ck").toString

    val left = norm(AddressFixture.left(spark, sf0001))
    val rows = AddressFixture.rightAll(spark, sf0001)
      .select("id", "address").collect()
      .map(r => RightRow(r.getString(0), r.getString(1)))

    val mem = MemoryStream[RightRow]
    val q = StreamingLink.incrementalLinkSink(
      norm(mem.toDF()), left, cfg, root, ckpt,
      idCol = "id", textCol = "address_norm", commitDrift = true)
    try {
      rows.grouped(rows.length / 3 + 1).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
      val drift = TableIO.readTable(spark, root, "drift")
      val got = drift.orderBy("batch").collect()
      assert(got.length == 3, s"expected 3 drift rows, got ${got.length}")
      val idx = drift.columns.zipWithIndex.toMap
      got.foreach { r =>
        assert(r.getLong(idx("n_split_components")) == 0L,
          s"batch ${r.getLong(idx("batch"))} reports splits")
        val rec = if (r.isNullAt(idx("pair_recall"))) None
          else Some(r.getDouble(idx("pair_recall")))
        assert(rec.forall(_ == 1.0),
          s"batch ${r.getLong(idx("batch"))} pair_recall $rec != 1.0")
      }
      // first batch folds against an empty prior: everything is new
      assert(got.head.getLong(idx("n_common")) == 0L &&
        got.head.getLong(idx("n_added")) > 0L)
      // same-batch-id replay (the foreachBatch failure-redelivery
      // contract): the original row for that id survives — the
      // replay's zero-churn measurement is anti-joined out
      val before = drift.collect().map(_.toString).sorted.toSeq
      import spark.implicits._
      StreamingLink.foldBatch(
        rows.take(rows.length / 3 + 1).toSeq.toDF("id", "address")
          .transform(norm), left, cfg, root,
        idCol = "id", textCol = "address_norm", batchId = 0L,
        commitDrift = true)
      val after = TableIO.readTable(spark, root, "drift")
        .collect().map(_.toString).sorted.toSeq
      assert(after == before, "same-id replay changed the drift table")
    } finally q.stop()
  }

  test("setsim-generator stream drains to the exact batch set-sim match") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_sss").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sss_ck").toString

    val left = norm(AddressFixture.left(spark, sf0001))
    val rightAll = AddressFixture.rightAll(spark, sf0001)
    val rows = rightAll.select("id", "address").collect()
      .map(r => RightRow(r.getString(0), r.getString(1)))
    val cJw = cfg.copy(scorer = "jaro_winkler", blockBy = "")

    val mem = MemoryStream[RightRow]
    val q = StreamingLink.incrementalLinkSink(
      norm(mem.toDF()), left, cJw, root, ckpt,
      idCol = "id", textCol = "address_norm", generator = "setsim")
    try {
      rows.grouped(rows.length / 2 + 1).foreach { b =>
        mem.addData(b.toSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val expectedM = Matcher.run(SetSim(), left, norm(rightAll), cJw,
      idCol = "id", textCol = "address_norm")
    val gotM = TableIO.readTable(spark, root, "matches")
    assert(gotM.exceptAll(expectedM).count() == 0 &&
      expectedM.exceptAll(gotM).count() == 0,
      "streamed setsim matches != batch Matcher.run(SetSim())")
  }
}

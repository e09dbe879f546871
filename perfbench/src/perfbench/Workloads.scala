package perfbench

import graft.blocking.{BlockKeys, BloomPregate, SetSimJoin}
import graft.cluster.ConnectedComponents
import graft.dedup.Dedup
import graft.fixtures.AddressFixture
import graft.io.TableIO
import graft.matching.{MatchConfig, Matcher}
import graft.normalize.Normalizer
import graft.streaming.StreamingLink
import graft.transcripts.Transcripts
import graft.util.CheckpointHygiene
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Row count and an order-insensitive hash (sum of per-row xxhash64) of a
  * table, over its columns in name order. */
final case class Digest(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows rows, hash $hash"
}

object Digest {
  def of(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** The outputs every unit is checked on: the `matches` and `clusters` tables. */
final case class Outputs(matches: Digest, clusters: Digest)

/** What one unit leaves behind: its two output tables plus, in a traced
  * unit, the layer outputs the per-layer counters are read from. */
final case class UnitOut(matches: DataFrame, clusters: DataFrame,
    layers: Map[String, DataFrame] = Map.empty)

final case class Env(spark: SparkSession, work: Path, seed: Long, scale: Double) {
  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** A workload: seeded set-up, then units of work, each checked. Units
  * are numbered from 0 within a stream of units; `position` maps a unit
  * to the reference its outputs must equal. */
abstract class Workload(val env: Env) {
  def name: String
  /** Seeded input generation (and, for ingest, the corpus commit): the
    * set-up a user pays. Idempotent, so it can be timed repeatedly. */
  def generate(): Unit
  /** Untimed, after the first unit: the workload constants (input records,
    * reference candidate pairs, the block-key histogram's counters) and
    * anything the output check needs beyond the first unit. `traced` asks
    * for the other per-layer counters' constants too. */
  def measure(traced: Boolean): Unit
  /** Units per episode: a window runs whole episodes, so every position
    * of an episode is sampled equally often. */
  def episode: Int = 1
  /** Fewest units a window samples. Early units in a fresh JVM are still
    * speeding up, so a window of a fixed count, not of whatever fits in
    * the time, keeps the median comparable between runs. */
  def minUnits: Int = 3
  /** Checked but unsampled units between unit 0 and the window: a link
    * still runs ~25 % faster on its third pass than on its second. More
    * would flatten the window further but make a run too long for the
    * ten-seed sets of a comparison. */
  def warmUnits: Int = 1
  /** Input records one unit consumes. */
  def records: Double
  /** Reference candidate pairs one unit covers (block-key histogram sum). */
  def pairs: Double
  /** Jobs a traced unit runs beyond its untraced twin, when the runner
    * should check that the two keep the same job graph. */
  def tracedExtraJobs: Option[Int] = None
  /** Untimed preparation before unit `index`. */
  def prepare(index: Int): Unit = ()
  def unit(t: Trace, index: Int): UnitOut
  def position(index: Int): Int = 0
  /** An independently computed expectation for a position, if any. */
  def oracle(position: Int): Option[Outputs] = None
  def outputs(u: UnitOut): Outputs = Outputs(Digest.of(u.matches), Digest.of(u.clusters))
  /** Per-layer counters of a traced unit, read after its clock stopped. */
  def counters(u: UnitOut): Map[String, Double]
  def release(u: UnitOut): Unit = {
    (u.layers.values.toSeq :+ u.matches :+ u.clusters).foreach { df =>
      CheckpointHygiene.free(df)
      df.unpersist(false)
    }
  }

  protected def spark: SparkSession = env.spark
  protected def in: String = env.dir("input")

  protected def blockCounters(l: DataFrame, r: DataFrame, cfg: MatchConfig, text: String)
      : Map[String, Double] =
    Workload.histogramCounters(Matcher.blockHistogram(l, r, cfg, text), cfg)
}

object Workload {
  val names: Seq[String] = Seq("transcript_link", "address_link", "transcript_ingest")

  def apply(name: String, env: Env): Workload = name match {
    case "transcript_link" => new TranscriptLink(env)
    case "address_link" => new AddressLink(env)
    case "transcript_ingest" => new TranscriptIngest(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  val Variants = 12

  /** Candidate volume and hot-key shape of a block-key histogram. */
  def histogramCounters(hist: DataFrame, cfg: MatchConfig): Map[String, Double] = {
    val r = hist.agg(
      coalesce(sum(col("pairs")), lit(0L)),
      count(when(col("pairs") >= cfg.saltHotPairs, 1)),
      coalesce(sum(when(col("pairs") >= cfg.saltHotPairs, col("pairs"))), lit(0L)),
      coalesce(max(col("pairs")), lit(0L))).head()
    val cands = r.getLong(0).toDouble
    Map("blocking.candidates" -> cands,
      "blocking.hot_keys" -> r.getLong(1).toDouble,
      "blocking.hot_pair_frac" -> (if (cands > 0) r.getLong(2) / cands else 0.0),
      "blocking.max_key_pairs" -> r.getLong(3).toDouble)
  }

  /** Conversation assembly: turns back into one document per conversation,
    * in turn order. */
  def assemble(turns: DataFrame): DataFrame =
    turns.groupBy(col("conv_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x.getField("text")), "").as("doc"))
      .select(
        col("conv_id"),
        regexp_extract(col("conv_id"), "_([0-9]+)$", 1).cast("int").as("variant"),
        col("doc"))

  def normalized(docs: DataFrame): DataFrame =
    docs.select(col("conv_id"), col("variant"), Normalizer.normalize(col("doc")).as("text_norm"))

  /** The reference's shipped match config with 8-way hot-key salting. */
  val transcriptCfg: MatchConfig = MatchConfig.reference.copy(saltBuckets = 8)

  /** The address match config of the repository's suite (`match_addr_lev`). */
  val addressCfg: MatchConfig = MatchConfig(
    scorer = "lev_ratio", threshold = 75, topk = 3,
    blockBy = "digits+prefix6", wDigits = 0.15, wGeo = 0.05,
    geoMaxKm = 1.5, saltBuckets = 8)
}

import Workload._

/** Full batch link of a transcript corpus: turns, conversation assembly,
  * normalize, salted `digits+prefix6` block join, `token_set_ratio`
  * scoring, top-3, connected components. Left = variant 0 of every
  * document, right = its 11 perturbed variants. */
final class TranscriptLink(env: Env) extends Workload(env) {
  val name = "transcript_link"
  private val cfg = transcriptCfg
  private var turns = 0L
  private var blocking = Map.empty[String, Double]

  def generate(): Unit =
    Inputs.writeDocuments(spark, in, env.seed, Inputs.documentCount(env.scale))

  def measure(traced: Boolean): Unit = {
    val t = Transcripts.turns(spark, in, Variants).toDF().localCheckpoint(true)
    turns = t.count()
    val conv = normalized(assemble(t)).localCheckpoint(true)
    blocking = blockCounters(conv.filter(col("variant") === 0), conv.filter(col("variant") > 0),
      cfg, "text_norm")
    CheckpointHygiene.free(conv)
    CheckpointHygiene.free(t)
  }

  def records: Double = turns.toDouble
  def pairs: Double = blocking("blocking.candidates")

  def unit(t: Trace, index: Int): UnitOut = t.unit {
    val docs = t("transcripts")(t.cut(assemble(Transcripts.turns(spark, in, Variants).toDF())))
    val conv = t("normalize")(t.keep(normalized(docs)))
    val left = conv.filter(col("variant") === 0)
    val right = conv.filter(col("variant") > 0)
    val link = new Link(t, cfg, "conv_id", "text_norm", hasGeo = false)
    val out = link(left, right)
    conv.unpersist(false)
    out.copy(layers = out.layers ++ Map("transcripts" -> docs, "normalize" -> conv))
  }

  def counters(u: UnitOut): Map[String, Double] =
    Map("transcripts.rows_out" -> turns.toDouble,
      "normalize.rows_out" -> u.layers("normalize").count().toDouble) ++
      blocking ++ Link.counters(u)
}

/** The reference's own domain: seeded address tables (`AddressFixture`
  * left against both dirty right sides), `normalizeAddress`, the salted
  * block join, `lev_ratio` + digits + geo scoring, top-3, connected
  * components. */
final class AddressLink(env: Env) extends Workload(env) {
  val name = "address_link"
  private val cfg = addressCfg
  private var rows = 0L
  private var blocking = Map.empty[String, Double]

  private def sides(): (DataFrame, DataFrame) = {
    def norm(df: DataFrame) =
      df.withColumn("address_norm", Normalizer.normalizeAddress(col("address")))
    (norm(AddressFixture.left(spark, in)), norm(AddressFixture.rightAll(spark, in)))
  }

  def generate(): Unit =
    Inputs.writeCustomers(spark, in, env.seed, Inputs.customerCount(env.scale))

  def measure(traced: Boolean): Unit = {
    val (l, r) = sides()
    rows = l.count() + r.count()
    blocking = blockCounters(l, r, cfg, "address_norm")
  }

  def records: Double = rows.toDouble
  def pairs: Double = blocking("blocking.candidates")

  def unit(t: Trace, index: Int): UnitOut = t.unit {
    val (l, r) = t("normalize") {
      val (l0, r0) = sides()
      (t.keep(l0), t.keep(r0))
    }
    val out = new Link(t, cfg, "id", "address_norm", hasGeo = true)(l, r)
    l.unpersist(false)
    r.unpersist(false)
    out.copy(layers = out.layers ++ Map("normalize" -> l, "normalize.right" -> r))
  }

  def counters(u: UnitOut): Map[String, Double] =
    Map("normalize.rows_out" ->
      (u.layers("normalize").count() + u.layers("normalize.right").count()).toDouble) ++
      blocking ++ Link.counters(u)
}

/** The matcher and clustering half of both batch links. The matcher
  * computes the block keys and detects hot keys inside its own query, so
  * that work is timed in `matching.join`; the `blocking` layer reports
  * the block-key histogram's counters, computed untimed in `measure`. */
final class Link(t: Trace, cfg: MatchConfig, id: String, text: String, hasGeo: Boolean) {
  def apply(left: DataFrame, right: DataFrame): UnitOut = {
    val scored = t(Link.Scored)(t.cut(Matcher.scoredPairs(left, right, cfg, id, text, hasGeo)))
    val matches = t("matching.rank")(Matcher.rankTopK(scored, cfg.topk).localCheckpoint(true))
    val clusters = t("cluster")(
      ConnectedComponents.run(matches, "left_id", "right_id", strict = true))
    UnitOut(matches, clusters, Option.when(t.traced)(Link.Scored -> scored).toMap)
  }
}

object Link {
  /** The span around `Matcher.scoredPairs`; the report splits it into
    * `matching.join` (its shuffle-map stages: side exchanges, salting,
    * hot-key flag) and `matching.score` (the hash-join probe, per-row
    * preparation and scoring stage). */
  val Scored = "matching.scored"

  def counters(u: UnitOut): Map[String, Double] = {
    val topk = u.matches.count().toDouble
    Map(
      "matching.scored_out" -> u.layers(Scored).count().toDouble,
      "matching.topk_out" -> topk,
      "cluster.edges_in" -> topk,
      "cluster.components" -> u.clusters.select("component").distinct().count().toDouble)
  }
}

/** The per-ingest production shape: a committed corpus of variant-0
  * conversations, and a closed loop folding one small seeded batch of
  * right-side conversations at a time through `StreamingLink.foldBatch`
  * (composite-full candidates, Bloom pre-gate on). Every `batches` folds
  * form an episode that starts from an empty state over the same corpus;
  * the drained state of an episode must equal a one-shot link of the
  * same rows. */
final class TranscriptIngest(env: Env) extends Workload(env) {
  val name = "transcript_ingest"
  val batches = 2
  val batchRows = 32
  /** Half the links' documents: the per-batch work stays small, so the
    * fold's fixed per-job costs dominate, as at a real ingest. */
  private val corpusDocs = Inputs.documentCount(env.scale) / 2
  private val cfg = transcriptCfg.copy(bloomPregateItems = 4L * batchRows)
  private var corpusRoot = ""
  private var refPairs = 0L
  private var drained: Option[Outputs] = None
  private var lshCandidates = 0L
  private var setsimCandidates = 0L
  /** Block-key histogram and Bloom pre-gate counters, averaged over the
    * batches of an episode (a window runs whole episodes). */
  private var blocking = Map.empty[String, Double]

  private def corpus: DataFrame = TableIO.readTable(spark, corpusRoot, "corpus")
  private def batch(i: Int): DataFrame = spark.read.parquet(s"${env.dir("batches")}/batch=$i")
  private def stateRoot(index: Int): String = env.work.resolve(s"state/episode=${index / batches}").toString

  def generate(): Unit = {
    val ids = Inputs.writeDocuments(spark, in, env.seed, corpusDocs)
    val stream = Inputs.ingestBatches(ids, Variants, batches, batchRows)
    val conv = normalized(assemble(Transcripts.turns(spark, in, Variants).toDF()))
      .select("conv_id", "text_norm").localCheckpoint(true)
    deleteTree(env.work.resolve("corpus"))
    corpusRoot = env.dir("corpus")
    TableIO.commitSnapshot(conv.filter(col("conv_id").endsWith("_0")), corpusRoot, "corpus",
      Map("seed" -> env.seed.toString, "scale" -> env.scale.toString))
    stream.zipWithIndex.foreach { case (rows, i) =>
      conv.filter(col("conv_id").isin(rows: _*)).coalesce(1)
        .write.mode("overwrite").parquet(s"${env.dir("batches")}/batch=$i")
    }
    CheckpointHygiene.free(conv)
  }

  private def allBatches: DataFrame = (0 until batches).map(batch).reduce(_ unionByName _)

  /** Counts the reference constants and, traced, the blocking counters of
    * each batch, and links every batch row of an episode against the
    * corpus in one shot: the drained state of each episode must equal it. The one-shot scores the three generators'
    * candidates once; its matches are their composite top-k (the body of
    * `Matcher.matchPairsCompositeFull`) and its clusters are components
    * over every accepted pair, since the fold clusters scored pairs, not
    * the top-k view. */
  def measure(traced: Boolean): Unit = {
    val all = allBatches.localCheckpoint(true)
    val left = corpus.localCheckpoint(true)
    refPairs = blockCounters(left, all, cfg, "text_norm")("blocking.candidates").toLong
    if (traced) {
      lshCandidates = TranscriptIngest.bandPairs(left, all)
      setsimCandidates = SetSimJoin.simJoin(left, all, 0.5, "jaccard", "conv_id", "text_norm").count()
      val corpusRows = left.count().toDouble
      def keyed(df: DataFrame) =
        df.withColumn("block_key", BlockKeys.blockKey(col("text_norm"), cfg.blockBy))
      val perBatch = (0 until batches).map { i =>
        val kept = keyed(left).filter(BloomPregate.keyFilter(keyed(batch(i)).select("block_key"),
          col("block_key"), col("block_key"), cfg.bloomPregateItems)).count()
        blockCounters(left, batch(i), cfg, "text_norm") + ("blocking.bloom_kept_frac" -> kept / corpusRows)
      }
      blocking = perBatch.head.keys.map(k => k -> perBatch.map(_(k)).sum / batches).toMap
    }
    val oneShot = cfg.copy(bloomPregateItems = 0L)
    val scored = Matcher.scoredPairs(left, all, oneShot, "conv_id", "text_norm")
      .unionByName(Matcher.scoredPairsLshBlocked(left, all, oneShot, "conv_id", "text_norm"))
      .unionByName(Matcher.scoredPairsSetSimBlocked(left, all, oneShot, "conv_id", "text_norm"))
      .localCheckpoint(true)
    val matches = Matcher.rankTopKDistinct(scored, cfg.topk)
    val clusters = ConnectedComponents.run(scored, "left_id", "right_id", strict = true)
    drained = Some(Outputs(Digest.of(matches), Digest.of(clusters)))
    Seq(clusters, scored, left, all).foreach(CheckpointHygiene.free)
  }

  def records: Double = batchRows.toDouble
  def pairs: Double = refPairs.toDouble / batches

  override def episode: Int = batches
  override def minUnits: Int = batches
  /** The one-shot link in `measure` already runs every generator, and the
    * folds after it are level. */
  override def warmUnits: Int = 0
  /** [[tracedFold]] materializes each candidate leg where `foldBatch`
    * materializes their union once (two more result jobs), and the top-k
    * before its commit (one more). */
  override def tracedExtraJobs: Option[Int] = Some(3)
  override def position(index: Int): Int = index % batches
  override def oracle(position: Int): Option[Outputs] =
    if (position == batches - 1) drained else None

  override def prepare(index: Int): Unit =
    if (index % batches == 0) deleteTree(env.work.resolve("state"))

  /** Reads the batch and the corpus, folds, and reads the committed
    * `matches` and `clusters` back; traced, the reads count under `io`. */
  def unit(t: Trace, index: Int): UnitOut = t.unit {
    val root = stateRoot(index)
    val (b, left) = t("io")((batch(index % batches), corpus))
    val layers =
      if (t.traced) tracedFold(t, b, left, root, index)
      else {
        StreamingLink.foldBatch(b, left, cfg, root, "conv_id", "text_norm",
          batchId = index.toLong, generator = "composite_full")
        Map.empty[String, DataFrame]
      }
    t("io")(UnitOut(TableIO.readTable(spark, root, "matches"),
      TableIO.readTable(spark, root, "clusters"), layers))
  }

  /** `StreamingLink.foldBatch` with `generator = "composite_full"`, called
    * step by step so each call into the library is its own span. It runs
    * the same library calls in the same order; where it differs, it
    * materializes a layer's output at its boundary ([[tracedExtraJobs]]),
    * and reads of prior snapshots stay lazy, so their scans are timed in
    * the layer that consumes them. The runner checks the job count, and
    * the outputs are checked against the untraced fold's. */
  private def tracedFold(t: Trace, b: DataFrame, left: DataFrame, root: String,
      index: Int): Map[String, DataFrame] = {
    if (t("io")(b.isEmpty)) return Map.empty
    val block = t(Link.Scored)(t.cut(Matcher.scoredPairs(left, b,
      cfg.copy(bloomPregateSide = "left"), "conv_id", "text_norm", hasGeo = false)))
    val lsh = t("dedup")(t.cut(
      Matcher.scoredPairsLshBlocked(left, b, cfg, "conv_id", "text_norm", 5, 16, 4, "char")))
    val setsim = t("setsim")(t.cut(
      Matcher.scoredPairsSetSimBlocked(left, b, cfg, "conv_id", "text_norm", 0.5, "jaccard")))
    val scoredMat = block.unionByName(lsh).unionByName(setsim)
    def prior(table: String): Option[DataFrame] = t("io")(
      TableIO.latestSnapshotId(root, table).map(_ => TableIO.readTable(spark, root, table)))
    val priorMatches = prior("matches")
    val matches = t("matching.rank")(t.cut(Matcher.rankTopKDistinct(
      priorMatches.fold(scoredMat)(_.unionByName(scoredMat)), cfg.topk)))
    t("io")(TableIO.commitSnapshot(matches, root, "matches",
      Map("stage" -> "matches", "batch" -> index.toString)))
    val priorClusters = prior("clusters")
    val clusters = t("cluster")(priorClusters match {
      case Some(pc) => ConnectedComponents.runIncremental(pc, scoredMat, "left_id", "right_id",
        maxIter = 25, checkEvery = 1, strict = true)
      case None => ConnectedComponents.run(scoredMat, "left_id", "right_id",
        maxIter = 25, checkEvery = 1, strict = true)
    })
    t("io") {
      TableIO.commitSnapshot(clusters, root, "clusters",
        Map("stage" -> "clusters", "batch" -> index.toString))
      TableIO.expireSnapshots(root, "matches", 2)
      TableIO.expireSnapshots(root, "clusters", 2)
    }
    Map(Link.Scored -> block, "dedup" -> lsh, "setsim" -> setsim,
      "matching.rank" -> matches, "cluster" -> clusters)
  }

  def counters(u: UnitOut): Map[String, Double] = {
    val scored = u.layers(Link.Scored).count().toDouble
    val lsh = u.layers("dedup").count().toDouble
    val setsim = u.layers("setsim").count().toDouble
    val scoredAll = scored + lsh + setsim
    blocking ++ Map(
      "matching.scored_out" -> scored,
      "matching.topk_out" -> u.layers("matching.rank").count().toDouble,
      "dedup.candidates" -> lshCandidates.toDouble / batches,
      "dedup.scored_out" -> lsh,
      "setsim.candidates" -> setsimCandidates.toDouble / batches,
      "setsim.scored_out" -> setsim,
      "cluster.edges_in" -> scoredAll,
      "cluster.components" -> u.clusters.select("component").distinct().count().toDouble)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally w.close()
    }
}

object TranscriptIngest {
  /** LSH candidate volume of the matcher's band join with its default
    * parameters (5-char shingles, 16 hashes, 4 bands): the sum over band
    * keys of left rows × right rows, so a pair sharing b bands counts b
    * times, as the join emits it. */
  def bandPairs(left: DataFrame, right: DataFrame): Long = {
    def bands(df: DataFrame) = {
      val base = df.select(col("conv_id").as("id"), Dedup.shingles(col("text_norm"), 5).as("sh"))
        .filter(size(col("sh")) > 0)
      Dedup.minhashSignatureRelational(base, 16)
        .select(explode(Dedup.bandKeys(col("sig"), 4, 16)).as("band"))
        .groupBy("band").count()
    }
    bands(left).withColumnRenamed("count", "nl")
      .join(bands(right).withColumnRenamed("count", "nr"), "band")
      .agg(coalesce(sum(col("nl") * col("nr")), lit(0L))).head().getLong(0)
  }
}

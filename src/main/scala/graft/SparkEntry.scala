package graft

import graft.blocking.BlockKeys
import graft.cluster.{ClusterMetrics, ConnectedComponents}
import graft.fixtures.AddressFixture
import graft.matching.{FellegiSunter, MatchConfig, Matcher}
import graft.matching.CandidateGenerator.{Block, Lsh, SetSim, SortedNeighborhood, Union}
import graft.normalize.Normalizer
import graft.similarity.Scores
import graft.transcripts.Transcripts
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB oracle where the semantics are
  * SQL-expressible (non-expressible scorers like token_set_ratio are
  * covered by golden-vector ScalaTests instead and appear here with
  * rows-only checks).
  */
object SparkEntry {

  /** Shared query-shape helpers. */
  private def turnsDF(s: SparkSession, dir: String) =
    Transcripts.turns(s, dir).toDF()

  /** Conversation documents: per-conv normalized text rebuilt from the
    * turns table under stable (conv_id, turn_idx) ordering. */
  def convNorm(s: SparkSession, dir: String): DataFrame =
    turnsDF(s, dir)
      .groupBy(col("conv_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x.getField("text")), "").as("doc"))
      .select(
        col("conv_id"),
        regexp_extract(col("conv_id"), "c([0-9]+)_", 1).cast("bigint").as("entity_id"),
        regexp_extract(col("conv_id"), "_([0-9]+)$", 1).cast("int").as("variant"),
        Normalizer.normalize(col("doc")).as("text_norm"))

  /** DuckDB mirror of [[convNorm]] as a CTE named conv_norm. */
  private def convNormCte: String = {
    val norm = Normalizer.normalizeSqlDuck("string_agg(text, '' ORDER BY turn_idx)")
    s"""conv_norm AS (
       |  SELECT conv_id,
       |         CAST(regexp_extract(conv_id, 'c([0-9]+)_', 1) AS BIGINT) AS entity_id,
       |         CAST(regexp_extract(conv_id, '_([0-9]+)$$', 1) AS INT) AS variant,
       |         $norm AS text_norm
       |  FROM transcripts GROUP BY conv_id
       |)""".stripMargin
  }

  private def withCtes(body: String): String =
    s"WITH ${Transcripts.oracleCte()},\n$convNormCte\n$body"

  /** Two-sided match (jaro_winkler scorer — DuckDB-oracle-able): left =
    * variant 0 conversations, right = variants 1..2; reference match
    * config shape (threshold 60, topk 3, digits+prefix6 blocking,
    * weights 0.8/0.15/0.05). */
  def matchJw(s: SparkSession, dir: String): DataFrame = {
    val conv = convNorm(s, dir).cache()
    val cfg = MatchConfig.reference.copy(scorer = "jaro_winkler")
    Matcher.run(Block(),
      conv.filter(col("variant") === 0),
      conv.filter(col("variant") > 0),
      cfg, idCol = "conv_id", textCol = "text_norm")
  }

  /** CTE chain of the [[matchJw]] mirror ending in `ranked` — shared
    * by the plain match oracle and the tool-sequence enrichment. */
  private def matchJwChainCtes: String = {
    val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("l.text_norm", "r.text_norm")
    s"""sides AS (SELECT conv_id, variant, text_norm, $bk AS block_key FROM conv_norm)
       |, scored AS (
       |  SELECT l.conv_id AS left_id, r.conv_id AS right_id,
       |         round((jaro_winkler_similarity(l.text_norm, r.text_norm) * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM sides l JOIN sides r ON l.block_key = r.block_key
       |  WHERE l.variant = 0 AND r.variant > 0
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)""".stripMargin
  }

  /** DuckDB mirror of [[matchJw]]. Shared arithmetic shape with
    * Scores.combine so doubles agree bit-for-bit. */
  private def matchJwOracle: String = withCtes {
    s"""
       |, $matchJwChainCtes
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  /** DuckDB mirror of the Monge-Elkan match (`m_match_me`): same
    * candidate/ranking shape as [[matchJwOracle]], with the scorer
    * mirrored as a `list_avg`/`list_max` comprehension over
    * `jaro_winkler_similarity` — digit-for-digit the
    * [[graft.similarity.Fuzz.mongeElkan]] arithmetic (per-direction
    * left-to-right sum / count, directions averaged, then the shared
    * combine shape). */
  private def matchMeOracle: String = withCtes {
    val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("lt", "rt")
    val me =
      """(CASE WHEN len(la) = 0 OR len(lb) = 0 THEN 0.0::DOUBLE
        |       ELSE (list_avg([list_max([jaro_winkler_similarity(x, y) for y in lb]) for x in la])
        |             + list_avg([list_max([jaro_winkler_similarity(y, x) for x in la]) for y in lb])) / 2.0
        |  END)""".stripMargin
    s"""
       |, sides AS (SELECT conv_id, variant, text_norm, $bk AS block_key FROM conv_norm)
       |, cand AS (
       |  SELECT l.conv_id AS left_id, r.conv_id AS right_id,
       |         l.text_norm AS lt, r.text_norm AS rt,
       |         list_filter(string_split_regex(l.text_norm, '\\s+'), t -> t <> '') AS la,
       |         list_filter(string_split_regex(r.text_norm, '\\s+'), t -> t <> '') AS lb
       |  FROM sides l JOIN sides r ON l.block_key = r.block_key
       |  WHERE l.variant = 0 AND r.variant > 0
       |)
       |, scored AS (
       |  SELECT left_id, right_id,
       |         round(($me * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM cand
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  /** DuckDB mirror of the LSH-blocked match (`m_match_lsh`): the
    * shingle→signature→band chain is [[graft.dedup.Dedup.minhashBandsSqlDuck]]
    * (digit-for-digit the Spark arithmetic); candidates = DISTINCT
    * band-sharing pairs (the Spark side's score-time pair collapse is
    * equivalent because scores are deterministic); scoring/ranking is
    * the [[matchJwOracle]] shape verbatim. */
  private def matchLshOracleWith(shingleSqlOverride: Option[String]): String = withCtes {
    val bandsCte = graft.dedup.Dedup.minhashBandsSqlDuck(
      "conv_norm", "conv_id", "text_norm", Seq("variant"),
      k = 5, numHashes = 16, bands = 4,
      shingleSqlOverride = shingleSqlOverride)
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("lt", "rt")
    s"""
       |, $bandsCte
       |, cand AS (
       |  SELECT DISTINCT l.conv_id AS left_id, r.conv_id AS right_id,
       |         l.text_norm AS lt, r.text_norm AS rt
       |  FROM mb_bands l JOIN mb_bands r ON l.band = r.band
       |  WHERE l.variant = 0 AND r.variant > 0
       |)
       |, scored AS (
       |  SELECT left_id, right_id,
       |         round((jaro_winkler_similarity(lt, rt) * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM cand
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  private def matchLshOracle: String = matchLshOracleWith(None)

  /** DuckDB mirror of the set-sim-generated match (`m_match_setsim`):
    * the J29 exact-Jaccard pair CTE continued into the same scored/
    * ranked chain as the LSH oracle. */
  private def matchSetSimOracle: String = withCtes {
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("lt", "rt")
    s"""
       |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
       |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
       |, ${graft.blocking.SetSimJoin.simJoinCteSqlDuck(0.5, "jaccard", "sspairs")}
       |, cand AS (
       |  SELECT p.left_id, p.right_id, l.t AS lt, r.t AS rt
       |  FROM sspairs p
       |  JOIN ln l ON p.left_id = l.id
       |  JOIN rn r ON p.right_id = r.id
       |)
       |, scored AS (
       |  SELECT left_id, right_id,
       |         round((jaro_winkler_similarity(lt, rt) * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM cand
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  /** DuckDB mirror of the FULL composite (`m_match_comp3`): the
    * three candidate legs UNION-ALL'd then DISTINCT'd, scored once by
    * the shared chain. */
  private def matchComposite3Oracle: String = withCtes {
    val bandsCte = graft.dedup.Dedup.minhashBandsSqlDuck(
      "conv_norm", "conv_id", "text_norm", Seq("variant"),
      k = 5, numHashes = 16, bands = 4)
    val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("lt", "rt")
    s"""
       |, $bandsCte
       |, sides AS (SELECT conv_id, variant, text_norm, $bk AS block_key FROM conv_norm)
       |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
       |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
       |, ${graft.blocking.SetSimJoin.simJoinCteSqlDuck(0.5, "jaccard", "sspairs")}
       |, cand AS (
       |  SELECT DISTINCT left_id, right_id, lt, rt FROM (
       |    SELECT l.conv_id AS left_id, r.conv_id AS right_id,
       |           l.text_norm AS lt, r.text_norm AS rt
       |    FROM sides l JOIN sides r ON l.block_key = r.block_key
       |    WHERE l.variant = 0 AND r.variant > 0
       |    UNION ALL
       |    SELECT l.conv_id, r.conv_id, l.text_norm, r.text_norm
       |    FROM mb_bands l JOIN mb_bands r ON l.band = r.band
       |    WHERE l.variant = 0 AND r.variant > 0
       |    UNION ALL
       |    SELECT p.left_id, p.right_id, l.t, r.t
       |    FROM sspairs p
       |    JOIN ln l ON p.left_id = l.id
       |    JOIN rn r ON p.right_id = r.id
       |  )
       |)
       |, scored AS (
       |  SELECT left_id, right_id,
       |         round((jaro_winkler_similarity(lt, rt) * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM cand
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  /** DuckDB mirror of the sorted-neighborhood match (`m_match_sn` /
    * `m_match_sn_mp`): per sort key, one total order over the unioned
    * sides — (key, text, side, id) is a unique key, so `row_number` is
    * deterministic and bytewise string comparison agrees between Spark
    * (UTF8String) and DuckDB (binary collation) — then every
    * cross-side pair within `window` consecutive positions, passes
    * unioned DISTINCT (Spark's cross-pass repeats collapse in the
    * ranking instead), scored/ranked by the shared jw shape. */
  private def matchSnOracleWith(sortKeySqls: Seq[String]): String = withCtes {
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("lt", "rt")
    val idxes = sortKeySqls.indices.map { i =>
      s"""idx$i AS (
         |  SELECT id, t, side,
         |         row_number() OVER (ORDER BY ${sortKeySqls(i)}, t, side, id) AS rn
         |  FROM u
         |)""".stripMargin
    }
    val passPairs = sortKeySqls.indices.map { i =>
      s"""    SELECT CASE WHEN a.side = 'L' THEN a.id ELSE b.id END AS left_id,
         |           CASE WHEN a.side = 'L' THEN b.id ELSE a.id END AS right_id,
         |           CASE WHEN a.side = 'L' THEN a.t ELSE b.t END AS lt,
         |           CASE WHEN a.side = 'L' THEN b.t ELSE a.t END AS rt
         |    FROM idx$i a JOIN idx$i b
         |      ON b.rn > a.rn AND b.rn <= a.rn + 9 AND a.side <> b.side""".stripMargin
    }
    s"""
       |, u AS (
       |  SELECT conv_id AS id, text_norm AS t,
       |         CASE WHEN variant = 0 THEN 'L' ELSE 'R' END AS side
       |  FROM conv_norm WHERE text_norm IS NOT NULL
       |)
       |, ${idxes.mkString("\n, ")}
       |, cand AS (
       |  SELECT DISTINCT left_id, right_id, lt, rt FROM (
       |${passPairs.mkString("\n    UNION ALL\n")}
       |  )
       |)
       |, scored AS (
       |  SELECT left_id, right_id,
       |         round((jaro_winkler_similarity(lt, rt) * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM cand
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  private def matchSnOracle: String = matchSnOracleWith(Seq("t"))

  private def matchLshTokOracle: String = matchLshOracleWith(
    Some(graft.dedup.Dedup.tokenShinglesSqlDuck("text_norm", 2)))

  /** DuckDB mirror of the composite match (`m_match_comp`): block-key
    * pairs UNION band pairs (DISTINCT — Spark's cross-generator repeats
    * collapse in the ranking window instead), then the shared
    * scoring/ranking shape. */
  private def matchCompositeOracle: String = withCtes {
    val bandsCte = graft.dedup.Dedup.minhashBandsSqlDuck(
      "conv_norm", "conv_id", "text_norm", Seq("variant"),
      k = 5, numHashes = 16, bands = 4)
    val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("lt", "rt")
    s"""
       |, $bandsCte
       |, sides AS (SELECT conv_id, variant, text_norm, $bk AS block_key FROM conv_norm)
       |, cand AS (
       |  SELECT DISTINCT left_id, right_id, lt, rt FROM (
       |    SELECT l.conv_id AS left_id, r.conv_id AS right_id,
       |           l.text_norm AS lt, r.text_norm AS rt
       |    FROM sides l JOIN sides r ON l.block_key = r.block_key
       |    WHERE l.variant = 0 AND r.variant > 0
       |    UNION ALL
       |    SELECT l.conv_id, r.conv_id, l.text_norm, r.text_norm
       |    FROM mb_bands l JOIN mb_bands r ON l.band = r.band
       |    WHERE l.variant = 0 AND r.variant > 0
       |  )
       |)
       |, scored AS (
       |  SELECT left_id, right_id,
       |         round((jaro_winkler_similarity(lt, rt) * 100.0 * 0.8::DOUBLE
       |                + $ds::DOUBLE * 0.15::DOUBLE)
       |               / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |  FROM cand
       |)
       |, ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY left_id
       |                               ORDER BY score DESC, right_id ASC) AS rn
       |  FROM scored WHERE score >= 60.0
       |)
       |SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  // -------------------------------------------------------------------
  // Address fixture path (reference-shaped two-sided match, J6-J10 full)
  // -------------------------------------------------------------------

  /** Address match config: lev_ratio scorer (oracle-able via DuckDB's
    * levenshtein), geo scoring active, reference yaml weights. */
  private val addrCfg = MatchConfig(
    scorer = "lev_ratio", threshold = 75, topk = 3,
    blockBy = "digits+prefix6", wText = 0.8, wDigits = 0.15, wGeo = 0.05,
    geoMaxKm = 1.5)

  def addrNorm(df: DataFrame): DataFrame =
    df.withColumn("address_norm", Normalizer.normalizeAddress(col("address")))

  def addrMatchLev(s: SparkSession, dir: String): DataFrame =
    Matcher.run(Block(hasGeo = true),
      addrNorm(AddressFixture.left(s, dir)),
      addrNorm(AddressFixture.rightAll(s, dir)),
      addrCfg, idCol = "id", textCol = "address_norm")

  /** Same full match with the transposition-tolerant `dl_ratio` scorer
    * (true Damerau-Levenshtein, codegen'd [[graft.similarity.DamerauLevenshtein]])
    * — swapped-adjacent-character typos cost 1 edit instead of 2, the
    * classic record-linkage upgrade over plain Levenshtein. */
  def addrMatchDl(s: SparkSession, dir: String): DataFrame =
    Matcher.run(Block(hasGeo = true),
      addrNorm(AddressFixture.left(s, dir)),
      addrNorm(AddressFixture.rightAll(s, dir)),
      addrCfg.copy(scorer = "dl_ratio"), idCol = "id", textCol = "address_norm")

  /** Same full match blocked by the PHONETIC key (J36, classic
    * Soundex of the first alphabetic run): sound-alike mahalle names
    * land in one block regardless of where the spelling diverges —
    * the complement of the prefix family (first-edit-blind) and LSH
    * bands (shingle-mass-driven). */
  def addrMatchPhonetic(s: SparkSession, dir: String): DataFrame =
    Matcher.run(Block(hasGeo = true),
      addrNorm(AddressFixture.left(s, dir)),
      addrNorm(AddressFixture.rightAll(s, dir)),
      addrCfg.copy(blockBy = "phonetic"), idCol = "id",
      textCol = "address_norm")

  /** Single-table dedup linkage (D10): the matcher run against ITSELF
    * over the address right corpus (which holds the r-/s-variants of
    * every entity) — all intra-table blocked pairs scored once,
    * `left_id < right_id` excluding self-pairs and collapsing the
    * symmetric duplicate, then the standard top-k. The classic
    * "dedupe one dirty table" shape, sharing every cfg knob with the
    * two-sided match. */
  def addrSelfMatch(s: SparkSession, dir: String): DataFrame = {
    val df = addrNorm(AddressFixture.rightAll(s, dir))
    Matcher.rankTopKDistinct(
      Matcher.scoredPairs(df, df, addrCfg,
        idCol = "id", textCol = "address_norm", hasGeo = true)
        .filter(col("left_id") < col("right_id")),
      addrCfg.topk)
  }

  /** A17 threshold sweep: candidate-level precision/recall/F1 of the
    * jw match chain at every threshold on a fixed 50..95 grid, from
    * ONE scoring pass — the calibration curve behind picking
    * `MatchConfig.threshold`. The scored candidate set is reduced to a
    * tiny (score, gold) histogram first; the grid join and all metric
    * arithmetic run on histogram-sized data (a broadcast
    * nested-loop over ~10 × distinct-scores rows), so the sweep costs
    * one block-join scoring pass regardless of grid size. */
  def thresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val conv = convNorm(s, dir).cache()
    val cfg = MatchConfig.reference.copy(scorer = "jaro_winkler", threshold = 0.0)
    val scored = Matcher.scoredPairs(
      conv.filter(col("variant") === 0), conv.filter(col("variant") > 0),
      cfg, idCol = "conv_id", textCol = "text_norm")
    val g = (regexp_extract(col("left_id"), "c([0-9]+)_", 1).cast("bigint") ===
      regexp_extract(col("right_id"), "c([0-9]+)_", 1).cast("bigint")).cast("int")
    val hist = scored.withColumn("g", g)
      .groupBy("score", "g").agg(count(lit(1)).as("cnt"))
    // gold-pair total derived from the DATA (Σ per-entity |left|·|right|),
    // not from the fixture's variant count: on convNorm (1 left + 2
    // right variants per entity) this equals 2·|left|, but the sweep is
    // a reusable calibration tool — over a corpus with another variant
    // layout (e.g. the 12-variant bench corpus) a hard-coded 2 would
    // silently misstate fn/recall/F1.
    val goldTotal = conv.filter(col("variant") === 0)
      .groupBy("entity_id").agg(count(lit(1)).as("nl"))
      .join(conv.filter(col("variant") > 0)
        .groupBy("entity_id").agg(count(lit(1)).as("nr")), "entity_id")
      .agg(coalesce(sum(col("nl") * col("nr")), lit(0L)).as("gold"))
      .collect()(0).getLong(0)
    val grid = s.range(0, 10)
      .select((lit(50.0) + col("id").cast("double") * lit(5.0)).as("t"))
    grid.join(broadcast(hist), col("score") >= col("t"), "left")
      .groupBy("t")
      .agg(
        coalesce(sum(when(col("g") === 1, col("cnt"))), lit(0L)).as("tp"),
        coalesce(sum(when(col("g") === 0, col("cnt"))), lit(0L)).as("fp"))
      .withColumn("fn", lit(goldTotal) - col("tp"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall", col("tp").cast("double") / (col("tp") + col("fn")))
      .withColumn("f1",
        lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")))
  }

  /** Clusters: transitive closure (large-star/small-star CC) over the
    * accepted address pairs — the north-rule stage. */
  def addrClusters(s: SparkSession, dir: String): DataFrame =
    ConnectedComponents.run(addrMatchLev(s, dir), "left_id", "right_id")

  /** A13: ARI + B-cubed + pairwise P/R of the CC clustering vs the
    * gold entity key (the digits shared by a left id and its r-/s-
    * variants). Evaluated over clustered records (CC vertices). */
  def addrClusterMetrics(s: SparkSession, dir: String): DataFrame =
    graft.cluster.ClusterMetrics.metrics(
      addrClusters(s, dir)
        .withColumn("entity", regexp_extract(col("id"), "[0-9]+", 0)),
      clusterCol = "component", entityCol = "entity")

  /** DuckDB mirror of the address-match pipeline: CTEs addr_left/right
    * -> normalized -> blocked -> scored -> ranked. */
  private def addrMatchBody: String =
    addrMatchBodyWith(Scores.levRatioSqlDuck("l.t", "r.t"))

  private def addrMatchBodyWith(
      textScoreSql: String,
      bk: String = BlockKeys.digitsPrefixKeySqlDuck("t", 6)): String = {
    val normL = Normalizer.normalizeAddressSqlDuck("address")
    val lev = textScoreSql
    val ds = Scores.digitsScoreSqlDuck("l.t", "r.t")
    val hav = Scores.haversineKmSqlDuck("l.lat", "l.lon", "r.lat", "r.lon")
    val geo = Scores.geoScoreKmSqlDuck(hav, 1.5)
    s"""
       |  WITH ln AS (SELECT id, $normL AS t, lat, lon FROM addr_left),
       |  rn AS (SELECT id, $normL AS t, lat, lon FROM addr_right),
       |  lb AS (SELECT *, $bk AS block_key FROM ln),
       |  rb AS (SELECT *, $bk AS block_key FROM rn),
       |  scored AS (
       |    SELECT l.id AS left_id, r.id AS right_id,
       |           round(($lev * CAST(0.8 AS DOUBLE)
       |                  + $ds * CAST(0.15 AS DOUBLE)
       |                  + $geo * CAST(0.05 AS DOUBLE))
       |                 / (CAST(0.8 AS DOUBLE) + CAST(0.15 AS DOUBLE) + CAST(0.05 AS DOUBLE)),
       |                 2) AS score
       |    FROM lb l JOIN rb r ON l.block_key = r.block_key
       |  ),
       |  ranked AS (
       |    SELECT *, row_number() OVER (PARTITION BY left_id
       |                                 ORDER BY score DESC, right_id ASC) AS rn
       |    FROM scored WHERE score >= 75.0
       |  )
       |  SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  /** DuckDB mirror of [[addrSelfMatch]]: the full-match SQL with BOTH
    * sides the right corpus and the `l.id < r.id` canonical pair
    * order (bytewise string comparison agrees between engines). */
  private def addrSelfMatchBody: String = {
    val normL = Normalizer.normalizeAddressSqlDuck("address")
    val bk = BlockKeys.digitsPrefixKeySqlDuck("t", 6)
    val lev = Scores.levRatioSqlDuck("l.t", "r.t")
    val ds = Scores.digitsScoreSqlDuck("l.t", "r.t")
    val hav = Scores.haversineKmSqlDuck("l.lat", "l.lon", "r.lat", "r.lon")
    val geo = Scores.geoScoreKmSqlDuck(hav, 1.5)
    s"""
       |  WITH sn0 AS (SELECT id, $normL AS t, lat, lon FROM addr_right),
       |  sb AS (SELECT *, $bk AS block_key FROM sn0),
       |  scored AS (
       |    SELECT l.id AS left_id, r.id AS right_id,
       |           round(($lev * CAST(0.8 AS DOUBLE)
       |                  + $ds * CAST(0.15 AS DOUBLE)
       |                  + $geo * CAST(0.05 AS DOUBLE))
       |                 / (CAST(0.8 AS DOUBLE) + CAST(0.15 AS DOUBLE) + CAST(0.05 AS DOUBLE)),
       |                 2) AS score
       |    FROM sb l JOIN sb r ON l.block_key = r.block_key
       |    WHERE l.id < r.id
       |  ),
       |  ranked AS (
       |    SELECT *, row_number() OVER (PARTITION BY left_id
       |                                 ORDER BY score DESC, right_id ASC) AS rn
       |    FROM scored WHERE score >= 75.0
       |  )
       |  SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }

  private def withAddrCtes(body: String): String =
    s"WITH ${AddressFixture.leftCteDuck},\n${AddressFixture.rightCteDuck}\n$body"

  // -------------------------------------------------------------------
  // Fellegi-Sunter probabilistic linkage (J27) over the address fixture
  // -------------------------------------------------------------------

  private val fsCfg = FellegiSunter.FsConfig()

  /** Comparison vectors over the blocked address candidates: dl_ratio
    * text agreement (3 levels), digit-run agreement (2), geo proximity
    * (3). Blocking is DELIBERATELY coarser than the production match
    * (`prefix4` = mahalle-name prefix, ~17 blocks): unsupervised EM
    * needs genuine non-matches in the candidate set to estimate the
    * u-distribution — the tight digits+prefix6 key yields almost only
    * true pairs and the model would degenerate (no negative class). */
  def fsGammas(s: SparkSession, dir: String): DataFrame =
    FellegiSunter.gammaPairs(
      addrNorm(AddressFixture.left(s, dir)),
      addrNorm(AddressFixture.rightAll(s, dir)),
      fsCfg, blockBy = "prefix4",
      scorer = graft.similarity.FuzzFunctions.scorers("dl_ratio"),
      idCol = "id", textCol = "address_norm", hasGeo = true)

  /** EM-learned (λ, m, u) parameter row. */
  def fsEmParams(s: SparkSession, dir: String): DataFrame =
    FellegiSunter.emFit(FellegiSunter.gammaCounts(fsGammas(s, dir)), fsCfg)

  /** Pairs at posterior ≥ 0.5 under the learned model. */
  def fsEmMatch(s: SparkSession, dir: String): DataFrame =
    FellegiSunter.matchPosteriors(fsGammas(s, dir), fsEmParams(s, dir),
      fsCfg.posteriorThreshold)

  /** FS three-zone decision rule at target error rates (μ, λ_err). */
  def fsZones(s: SparkSession, dir: String): DataFrame =
    FellegiSunter.decisionZones(
      FellegiSunter.gammaCounts(fsGammas(s, dir)), fsEmParams(s, dir))

  /** Clerical-review queue: pairs in the POSSIBLE zone. */
  def fsReview(s: SparkSession, dir: String): DataFrame =
    FellegiSunter.reviewQueue(fsGammas(s, dir), fsZones(s, dir))

  /** γ knobs for the TEXT-ONLY FS path over the transcript corpus (the
    * `decision = "fs"` pipeline stage): graded jaro_winkler bins
    * bracketing the measured gold/noise split on the dense-vocab
    * corpus (gold raw ≥ 89.4, noise p95 ≈ 87 — token_set_ratio
    * saturates at 100 on subset pairs there, so it serves as the
    * EXACT-AGREEMENT field instead; [[FellegiSunter.gammaPairsText]]
    * scaladoc for the identifiability argument). */
  private val fsTextCfg = FellegiSunter.FsConfig(textLo = 70, textHi = 88)

  /** γ vectors of the text-only FS path over the conv corpus — the
    * exact frame the `decision = "fs"` pipeline commits as fs_gammas. */
  def fsTextGammas(s: SparkSession, dir: String): DataFrame = {
    val conv = convNorm(s, dir).cache()
    FellegiSunter.gammaPairsText(
      conv.filter(col("variant") === 0),
      conv.filter(col("variant") > 0),
      fsTextCfg, "digits+prefix6",
      graft.similarity.FuzzFunctions.scorer("jaro_winkler"),
      idCol = "conv_id", textCol = "text_norm")
  }

  // -------------------------------------------------------------------
  // Token blocking + meta-blocking (J28) over the address fixture
  // -------------------------------------------------------------------

  private val mbCfg = graft.blocking.MetaBlocking.MbConfig()

  /** CBS/Jaccard-weighted candidate edges over surviving token blocks. */
  def mbWeights(s: SparkSession, dir: String): DataFrame =
    graft.blocking.MetaBlocking.pairWeights(
      addrNorm(AddressFixture.left(s, dir)),
      addrNorm(AddressFixture.rightAll(s, dir)),
      mbCfg, idCol = "id", textCol = "address_norm")

  /** DuckDB mirror of [[fsGammas]] as CTEs ending in
    * `gam(left_id, right_id, g_t, g_d, g_g)` — continues the
    * addr_left/addr_right chain from [[withAddrCtes]]. */
  /** CTEs ending in `cc(id, component)` — the transitive-closure
    * clustering over accepted address matches (recursive-CTE mirror of
    * large-star/small-star CC), shared by the a_clusters and
    * e_cluster_metrics oracles. */
  private def addrCcCtes: String =
    s"""m AS ($addrMatchBody),
       |edges AS (SELECT left_id AS u, right_id AS v FROM m
       |          UNION SELECT right_id, left_id FROM m),
       |verts AS (SELECT DISTINCT u AS id FROM edges),
       |cc AS (SELECT id, component FROM (
       |  WITH RECURSIVE reach(id, r) AS (
       |    SELECT id, id FROM verts
       |    UNION
       |    SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
       |  )
       |  SELECT id, min(r) AS component FROM reach GROUP BY id
       |))""".stripMargin

  /** Normalized-side CTEs `ln`/`rn` shared by the FS and meta-blocking
    * oracles. */
  private def addrNormCtes: String = {
    val normL = Normalizer.normalizeAddressSqlDuck("address")
    s"""ln AS (SELECT id, $normL AS t, lat, lon FROM addr_left),
       |rn AS (SELECT id, $normL AS t, lat, lon FROM addr_right)""".stripMargin
  }

  /** Mirror of [[fsTextGammas]] as CTEs ending in `gam(left_id,
    * right_id, g_t, g_d, g_g)` over conv_norm. The graded field is
    * DuckDB's native `jaro_winkler_similarity` ×100 (the mirror
    * m_match_jw already hash-proves); the exact-agreement field
    * mirrors `token_set_ratio == 100` as the SUBSET test over the
    * canonical distinct-token lists (the m_tsr_pretok tokenization):
    * TSR = 100 ⟺ one side's set contains the other — if a side has no
    * unshared tokens its sorted join string EQUALS the intersection
    * string (ratio 100); otherwise all three combination ratios
    * compare unequal strings with non-empty tails and stay < 100.
    * Empty-token records are guarded to level 0 on both engines. */
  private def fsTextGamCte: String = {
    val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
    val toks = """list_sort(list_distinct(
      |            list_filter(string_split_regex(text_norm, '\s+'), t -> t <> '')))"""
      .stripMargin
    val jw = "(jaro_winkler_similarity(l.text_norm, r.text_norm) * 100.0)"
    s"""sides AS (SELECT conv_id, variant, text_norm, $toks AS toks,
       |          $bk AS block_key FROM conv_norm),
       |gam AS (SELECT l.conv_id AS left_id, r.conv_id AS right_id,
       |  CASE WHEN $jw >= CAST(${fsTextCfg.textHi} AS DOUBLE) THEN 2
       |       WHEN $jw >= CAST(${fsTextCfg.textLo} AS DOUBLE) THEN 1
       |       ELSE 0 END AS g_t,
       |  CASE WHEN least(len(l.toks), len(r.toks)) > 0
       |        AND len(list_intersect(l.toks, r.toks))
       |            = least(len(l.toks), len(r.toks)) THEN 1
       |       ELSE 0 END AS g_d,
       |  0 AS g_g
       |  FROM sides l JOIN sides r ON l.block_key = r.block_key
       |  WHERE l.variant = 0 AND r.variant > 0)""".stripMargin
  }

  private def fsGamCte: String = {
    val bk = BlockKeys.prefixKeySqlDuck("t", 4)
    val ts = Scores.dlRatioSqlDuck("l.t", "r.t")
    val ds = Scores.digitsScoreSqlDuck("l.t", "r.t")
    val hav = Scores.haversineKmSqlDuck("l.lat", "l.lon", "r.lat", "r.lon")
    val geo = Scores.geoScoreKmSqlDuck(hav, 1.5)
    s"""$addrNormCtes,
       |lb AS (SELECT *, $bk AS block_key FROM ln),
       |rb AS (SELECT *, $bk AS block_key FROM rn),
       |gam AS (SELECT l.id AS left_id, r.id AS right_id,
       |  ${FellegiSunter.gammasSqlDuck(ts, ds, geo, fsCfg)}
       |  FROM lb l JOIN rb r ON l.block_key = r.block_key)""".stripMargin
  }

  // -------------------------------------------------------------------

  /** Flagship: full reference-config match (token_set_ratio scorer) on
    * the transcript corpus — normalize → block → score → threshold →
    * topk, end to end. */
  def entry(spark: SparkSession): DataFrame = {
    val conv = convNorm(spark, "/root/testdata/sf0.001").cache()
    Matcher.run(Block(),
      conv.filter(col("variant") === 0),
      conv.filter(col("variant") > 0),
      MatchConfig.reference, idCol = "conv_id", textCol = "text_norm")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = ExtraQueries.queries ++ Map(
    // Transcript derivation — per-turn text equality invariant under
    // stable (conv_id, turn_idx) ordering.
    "t_transcripts" -> ((s, dir) => turnsDF(s, dir)),
    // Normalized conversation docs (normalize chain P1/P7/P9/P13 graft).
    "t_conv_norm" -> ((s, dir) => convNorm(s, dir)),
    // Tool-name canonicalization (abbreviation-table analogue, P7).
    "n_tool_counts" -> ((s, dir) =>
      turnsDF(s, dir)
        .filter(col("tool").isNotNull)
        .groupBy(Normalizer.normTool(col("tool")).as("tool_norm"))
        .agg(count(lit(1)).as("cnt"))),
    // The flagship token_set_ratio scorer under driver checks (J6):
    // (a) the pretok token arrays the hot path scores over are
    // DuckDB-expressible — hash-checked end to end;
    "m_tsr_pretok" -> ((s, dir) =>
      convNorm(s, dir).select(col("conv_id"),
        array_join(graft.similarity.FuzzFunctions.sortedTokenSet(col("text_norm")), " ")
          .as("tokset"))),
    // (b) the full flagship block-key match path (TokenSetRatioPreTok
    // in-plan) at threshold 0 = every blocked candidate pair, with the
    // score INDEPENDENTLY recomputed via the scalar TokenSetRatio
    // expression + a fresh digits score — `tsr_agree` must be 1 on
    // every row (the pair list itself is the DuckDB-checkable part;
    // the scalar-vs-pretok equality is the second-path score check).
    "m_match_tsr_agree" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val all = Matcher.run(Block(),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(threshold = 0, topk = Int.MaxValue),
        idCol = "conv_id", textCol = "text_norm")
      val lt = conv.select(col("conv_id").as("left_id"), col("text_norm").as("lt"))
      val rt = conv.select(col("conv_id").as("right_id"), col("text_norm").as("rt"))
      val scalarTsr = graft.similarity.FuzzFunctions.token_set_ratio(col("lt"), col("rt"))
      val digitsS = Scores.digitsScoreArrays(
        Scores.digitRuns(col("lt")), Scores.digitRuns(col("rt")))
      val recombined = Scores.combine(scalarTsr, digitsS,
        lit(null).cast("double"), 0.8, 0.15, 0.05)
      all.join(lt, "left_id").join(rt, "right_id")
        .select(col("left_id"), col("right_id"),
          (col("score") === recombined).cast("int").as("tsr_agree"))
    }),
    // Blocking keys (J1, digits+prefix6 — the reference's configured mode).
    "b_block_keys" -> ((s, dir) =>
      convNorm(s, dir).select(col("conv_id"),
        BlockKeys.blockKey(col("text_norm"), "digits+prefix6").as("block_key"))),
    // The block-key histogram as a first-class statistic query — the
    // normalize-commit-time table whose Σ pairs prices a match job and
    // whose ≥saltHotPairs slice is the matcher's salted hot set.
    "b_block_hist" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.blockHistogram(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference, textCol = "text_norm")
    }),
    // Block join + scoring + threshold + topk (J1-J3, J6-J7, J10-J12).
    "m_match_jw" -> ((s, dir) => matchJw(s, dir)),
    // Same match with the Bloom block-key pregate on
    // (blocking.BloomPregate): the corpus side is thinned at its scan
    // by a sketch of the batch side's keys, BEFORE the exchange. The
    // oracle is the SAME SQL as m_match_jw — hash equality IS the
    // exactness proof that the sketch admits every true candidate.
    "m_match_bloom" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(Block(),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler", bloomPregateItems = 65536L),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // MinHash-LSH banding as the matcher's candidate generation (the
    // north-star's composite blocking): same scorer/threshold/topk,
    // candidates = pairs sharing >=1 of 4 signature bands over 5-gram
    // shingles instead of a shared prefix key.
    "m_match_lsh" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(Lsh(),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // J37 set-similarity candidate generation: candidates = the EXACT
    // prefix-filtered token-Jaccard join at 0.5 (provable recall floor
    // — every pair above minSim is admitted, unlike probabilistic LSH
    // bands), same scorer/threshold/topk chain.
    "m_match_setsim" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(SetSim(minSim = 0.5),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // FULL composite: block key ∪ LSH bands ∪ exact set-sim join in
    // one ranking — the engine's highest-recall candidate set (the
    // three families fail independently).
    "m_match_comp3" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(Union(Block(), Lsh(), SetSim()),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // Incremental fold over the set-sim generator — candidacy is
    // per-pair (exact sim >= minSim), so incremental == full; oracle
    // is the full-match SQL verbatim.
    "m_match_setsim_incr" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val cfgJw = MatchConfig.reference.copy(scorer = "jaro_winkler")
      val isOld = coalesce(
        expr("try_cast(regexp_extract(conv_id, 'c([0-9]+)_', 1) AS BIGINT) % 2 = 0"),
        lit(false))
      val l = conv.filter(col("variant") === 0)
      val r = conv.filter(col("variant") > 0)
      val prior = Matcher.run(SetSim(minSim = 0.5),
        l.filter(isOld), r.filter(isOld), cfgJw,
        idCol = "conv_id", textCol = "text_norm")
      Matcher.incremental(SetSim(minSim = 0.5),
        l.filter(isOld), l.filter(not(isOld)),
        r.filter(isOld), r.filter(not(isOld)),
        prior, cfgJw, idCol = "conv_id", textCol = "text_norm")
    }),
    // Incremental fold over the FULL three-generator composite —
    // block ∪ LSH ∪ set-sim candidacy is a union of per-pair
    // predicates, so incremental == full and the oracle is the
    // m_match_comp3 SQL verbatim (Matcher.incremental scaladoc).
    "m_match_comp3_incr" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val cfgJw = MatchConfig.reference.copy(scorer = "jaro_winkler")
      val isOld = coalesce(
        expr("try_cast(regexp_extract(conv_id, 'c([0-9]+)_', 1) AS BIGINT) % 2 = 0"),
        lit(false))
      val l = conv.filter(col("variant") === 0)
      val r = conv.filter(col("variant") > 0)
      val prior = Matcher.run(Union(Block(), Lsh(), SetSim()),
        l.filter(isOld), r.filter(isOld), cfgJw,
        idCol = "conv_id", textCol = "text_norm")
      Matcher.incremental(Union(Block(), Lsh(), SetSim()),
        l.filter(isOld), l.filter(not(isOld)),
        r.filter(isOld), r.filter(not(isOld)),
        prior, cfgJw, idCol = "conv_id", textCol = "text_norm")
    }),
    // Same LSH-banded match over TOKEN 2-grams (the north-star's
    // "token q-grams" shingle family; m_match_lsh is the char-5-gram
    // reading).
    "m_match_lsh_tok" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(Lsh(shingleK = 2, shingleMode = "token"),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // Incremental re-match over the LSH-banded generator: conv corpus
    // split by entity parity, prior = full LSH match of the old halves,
    // fold = new-vs-all + old-vs-new LSH legs + prior, ranked once. The
    // oracle is the FULL LSH-match SQL verbatim — equality IS the
    // incremental-exactness proof (Matcher.incremental scaladoc).
    "m_match_lsh_incr" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val cfgJw = MatchConfig.reference.copy(scorer = "jaro_winkler")
      val isOld = coalesce(
        expr("try_cast(regexp_extract(conv_id, 'c([0-9]+)_', 1) AS BIGINT) % 2 = 0"),
        lit(false))
      val l = conv.filter(col("variant") === 0)
      val r = conv.filter(col("variant") > 0)
      val prior = Matcher.run(Lsh(),
        l.filter(isOld), r.filter(isOld), cfgJw,
        idCol = "conv_id", textCol = "text_norm")
      Matcher.incremental(Lsh(),
        l.filter(isOld), l.filter(not(isOld)),
        r.filter(isOld), r.filter(not(isOld)),
        prior, cfgJw, idCol = "conv_id", textCol = "text_norm")
    }),
    // Blocking-quality statistics over the reference block-key
    // generator, against entity-id truth: reduction ratio, pairs
    // completeness (the recall ceiling any matcher over this generator
    // can reach), pairs quality.
    "e_blocking_quality" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val key = graft.blocking.BlockKeys.blockKey(col("text_norm"), "digits+prefix6")
      val l = conv.filter(col("variant") === 0)
        .select(col("conv_id").as("left_id"), key.as("bk"), col("entity_id").as("le"))
      val r = conv.filter(col("variant") > 0)
        .select(col("conv_id").as("right_id"), key.as("bk"), col("entity_id").as("re"))
      val cand = l.join(r, "bk").select("left_id", "right_id")
      val truth = l.join(r, col("le") === col("re"))
        .select("left_id", "right_id")
      Matcher.blockingQuality(l.select("left_id"), r.select("right_id"), cand, truth)
    }),
    // The same generator-evaluation statistics over the PHONETIC key
    // (J36): quantifies the sound-alike generator's reduction ratio /
    // recall ceiling / precision against entity truth, comparable
    // side by side with the reference digits+prefix6 row above.
    "e_blocking_quality_ph" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val key = graft.blocking.BlockKeys.blockKey(col("text_norm"), "phonetic")
      val l = conv.filter(col("variant") === 0)
        .select(col("conv_id").as("left_id"), key.as("bk"), col("entity_id").as("le"))
      val r = conv.filter(col("variant") > 0)
        .select(col("conv_id").as("right_id"), key.as("bk"), col("entity_id").as("re"))
      val cand = l.join(r, "bk").select("left_id", "right_id")
      val truth = l.join(r, col("le") === col("re"))
        .select("left_id", "right_id")
      Matcher.blockingQuality(l.select("left_id"), r.select("right_id"), cand, truth)
    }),
    // Sorted-neighborhood (merge/purge) candidate generation: the
    // position-driven generator whose candidate volume is exactly
    // (window-1)*N regardless of value skew.
    "m_match_sn" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(SortedNeighborhood(window = 10),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // Multi-pass sorted neighborhood (the production merge/purge
    // shape): forward text order + reversed-text order, candidates
    // unioned, one ranking.
    "m_match_sn_mp" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(
        SortedNeighborhood(window = 10,
          sortKeys = Seq(identity, (c: Column) => reverse(c))),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // Sorted-neighborhood pass ordered by the PHONETIC key (J26 × J36,
    // the classic merge/purge pass choice): sound-alike first tokens
    // sort adjacent, so the window pairs spelling variants that both
    // the text and reversed-text passes sort far apart.
    "m_match_sn_ph" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(
        SortedNeighborhood(window = 10,
          sortKeys = Seq((c: Column) => graft.blocking.BlockKeys.phoneticKey(c))),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // J6 scorer family: symmetric Monge-Elkan hybrid (token-level
    // best-match alignment, Jaro-Winkler inside tokens) over the
    // reference block-key generator — the classic middle ground
    // between token_set_ratio (exact token overlap) and whole-string
    // jaro_winkler for reordered/partially-misspelled text.
    "m_match_me" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(Block(),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "monge_elkan"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // T4 tool-sequence enrichment: the matched pairs scored on a second
    // field — canonical tool-call bigram Jaccard (ToolSequences
    // scaladoc), NULL when either side has no sequence.
    "m_match_toolsim" -> ((s, dir) =>
      graft.transcripts.ToolSequences.jaccardEnrich(
        matchJw(s, dir),
        graft.transcripts.ToolSequences.bigramTokens(s, dir))),
    // J29 exact set-similarity join: prefix-filtered token-Jaccard
    // threshold join — provably no false negatives (SetSimJoin
    // scaladoc), the exact counterpart to the MinHash-LSH generator.
    "m_setsim_pf" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.jaccardJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        threshold = 0.5, idCol = "conv_id", textCol = "text_norm")
    }),
    // J29 cosine / Dice variants: same prefix-filtering frame, each
    // with its own provably-complete prefix factor (t² and t/(2−t)).
    "m_setsim_cos" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.simJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        threshold = 0.6, sim = "cosine", idCol = "conv_id", textCol = "text_norm")
    }),
    "m_setsim_dice" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.simJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        threshold = 0.6, sim = "dice", idCol = "conv_id", textCol = "text_norm")
    }),
    // J31 weighted-cosine set-sim join: idf-weighted tokens on an
    // exact-integer grid, norm-based prefix bound (AllPairs) — rare
    // tokens dominate, filler tokens can't sink a true match.
    "m_setsim_wcos" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.weightedCosineJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        threshold = 0.7, idCol = "conv_id", textCol = "text_norm")
    }),
    // J32 containment join: |A∩B|/|A| ≥ t — asymmetric by design
    // (right side may be arbitrarily longer), left-prefix-only pruning.
    "m_setsim_contain" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.containJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        threshold = 0.75, idCol = "conv_id", textCol = "text_norm")
    }),
    // J35 overlap-coefficient join: |A∩B|/min — the symmetric closure
    // of containment (either side t-contained in the other); candidates
    // are two one-sided prefix legs unioned (SetSimJoin.overlapCoeffJoin
    // scaladoc). Min-normalization is inherently dense on a
    // shared-vocabulary corpus (any near-subset qualifies), so the
    // query runs the operator's production shape — a deterministic
    // hash-slice query set against the full corpus (same left-bounding
    // discipline as a_edjoin).
    "m_setsim_ocoeff" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.overlapCoeffJoin(
        conv.filter(col("variant") === 0 && md5(col("conv_id")) < "02"),
        conv.filter(col("variant") > 0),
        threshold = 0.9, idCol = "conv_id", textCol = "text_norm")
    }),
    // J34 weighted-Jaccard join: idf-weighted token masses on the same
    // exact-integer grid as J31 — rare shared identifiers dominate,
    // unshared bulk still punished via the union denominator
    // (SetSimJoin.weightedJaccardJoin scaladoc).
    "m_setsim_wjac" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.weightedJaccardJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        threshold = 0.97, idCol = "conv_id", textCol = "text_norm")
    }),
    // J33 absolute-overlap join: ≥ c shared distinct tokens, no length
    // normalization — integer threshold, integer output (SetSimJoin
    // .overlapJoin scaladoc); the T-overlap sibling of the normalized
    // set-similarity family.
    "m_setsim_overlap" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      graft.blocking.SetSimJoin.overlapJoin(
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        minOverlap = 30, idCol = "conv_id", textCol = "text_norm")
    }),
    // COMPOSITE blocking (north-star phrase literal): block-key
    // candidates UNION band candidates, one ranking over both.
    "m_match_comp" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.run(Union(Block(), Lsh()),
        conv.filter(col("variant") === 0),
        conv.filter(col("variant") > 0),
        MatchConfig.reference.copy(scorer = "jaro_winkler"),
        idCol = "conv_id", textCol = "text_norm")
    }),
    // Incremental re-match over the COMPOSITE generator (block ∪ band),
    // same entity-parity split as m_match_lsh_incr; the oracle is the
    // full composite-match SQL verbatim — equality IS the
    // incremental-exactness proof (Matcher.incremental scaladoc).
    "m_match_comp_incr" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      val cfgJw = MatchConfig.reference.copy(scorer = "jaro_winkler")
      val isOld = coalesce(
        expr("try_cast(regexp_extract(conv_id, 'c([0-9]+)_', 1) AS BIGINT) % 2 = 0"),
        lit(false))
      val l = conv.filter(col("variant") === 0)
      val r = conv.filter(col("variant") > 0)
      val prior = Matcher.run(Union(Block(), Lsh()),
        l.filter(isOld), r.filter(isOld), cfgJw,
        idCol = "conv_id", textCol = "text_norm")
      Matcher.incremental(Union(Block(), Lsh()),
        l.filter(isOld), l.filter(not(isOld)),
        r.filter(isOld), r.filter(not(isOld)),
        prior, cfgJw, idCol = "conv_id", textCol = "text_norm")
    }),
    // Anti-join unmatched outputs (J15).
    "m_unmatched_left" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.unmatchedLeft(
        conv.filter(col("variant") === 0).select(col("conv_id"), col("text_norm")),
        matchJw(s, dir), idCol = "conv_id")
    }),
    "m_unmatched_right" -> ((s, dir) => {
      val conv = convNorm(s, dir).cache()
      Matcher.unmatchedRight(
        conv.filter(col("variant") > 0).select(col("conv_id"), col("text_norm")),
        matchJw(s, dir), idCol = "conv_id")
    }),
    // Address fixture: reference-shaped left/right inputs + normalize
    // chain (P1, P7, P10-P13 families).
    "a_left_norm" -> ((s, dir) =>
      addrNorm(AddressFixture.left(s, dir)).select("id", "address_norm", "lat", "lon")),
    "a_right_norm" -> ((s, dir) =>
      addrNorm(AddressFixture.rightAll(s, dir)).select("id", "address_norm", "lat", "lon")),
    // Full scored match with digits + geo confidence (J6-J12).
    "a_match_lev" -> ((s, dir) => addrMatchLev(s, dir)),
    // J6 scorer family: true-Damerau-Levenshtein variant of the full
    // address match (codegen'd expression; DuckDB damerau_levenshtein
    // is the oracle).
    "a_match_dl" -> ((s, dir) => addrMatchDl(s, dir)),
    // J36 phonetic (Soundex) blocking: same scorer chain, sound-alike
    // block key.
    "a_match_phon" -> ((s, dir) => addrMatchPhonetic(s, dir)),
    // D4 single-table dedup linkage: the matcher against itself,
    // left_id < right_id canonicalizing each unordered pair.
    "a_selfmatch" -> ((s, dir) => addrSelfMatch(s, dir)),
    // A17 threshold sweep: candidate-level P/R/F1 across the 50..95
    // grid from one scoring pass (histogram-sized metric arithmetic).
    "e_threshold_sweep" -> ((s, dir) => thresholdSweep(s, dir)),
    // J27 Fellegi-Sunter: EM-learned (λ, m, u) over quantized
    // responsibilities (integer-exact aggregates → oracle-hashable) and
    // the posterior-thresholded match set under the learned model.
    "fs_em_params" -> ((s, dir) => fsEmParams(s, dir)),
    "fs_em_match" -> ((s, dir) => fsEmMatch(s, dir)),
    // FS Theorem-1 three-zone rule (link / possible / nonlink at
    // target error rates) + the clerical-review queue it induces.
    "fs_zones" -> ((s, dir) => fsZones(s, dir)),
    "fs_review" -> ((s, dir) => fsReview(s, dir)),
    // Text-only FS path (the decision="fs" pipeline frame): γ vectors
    // with the exact-agreement second field, and the full EM + zone
    // chain over them.
    "fs_text_gammas" -> ((s, dir) => fsTextGammas(s, dir)),
    "fs_text_zones" -> ((s, dir) =>
      FellegiSunter.decisionZones(
        FellegiSunter.gammaCounts(fsTextGammas(s, dir)),
        FellegiSunter.emFit(
          FellegiSunter.gammaCounts(fsTextGammas(s, dir)), fsTextCfg))),
    // J28 meta-blocking: token blocking with block purging, then
    // weight-edge pruning (mean-CBS threshold) / cardinality-node
    // pruning (top-k per record by Jaccard).
    "b_meta_wep" -> ((s, dir) => graft.blocking.MetaBlocking.wep(mbWeights(s, dir))),
    "b_meta_cnp" -> ((s, dir) =>
      graft.blocking.MetaBlocking.cnp(mbWeights(s, dir), mbCfg.cnpK)),
    // Incremental re-match (the per-ingest-batch production shape):
    // split the corpus by entity-key parity into an "old" committed
    // half and a "new" increment, score only new×all and old×new, and
    // re-rank the union with the prior old×old top-k snapshot. The
    // result is provably identical to the full match
    // (Matcher.incremental scaladoc), so the oracle is the
    // SAME full-match SQL as a_match_lev — the strongest check the
    // driver can run on an incremental path.
    "a_match_incr" -> ((s, dir) => {
      // null-safe parity split: a digit-less id must still land in
      // exactly one half (try_cast('') -> null, coalesce -> "new"), or
      // filter(isOld) and filter(!isOld) would BOTH drop it and the
      // incremental result would silently miss its matches vs the
      // full-match oracle. try_cast, not CAST: under Spark 4's default
      // ANSI mode CAST('' AS BIGINT) throws instead of yielding null.
      val isOld = coalesce(
        expr("try_cast(regexp_extract(id, '([0-9]+)', 1) AS BIGINT) % 2 = 0"), lit(false))
      val l = addrNorm(AddressFixture.left(s, dir))
      val r = addrNorm(AddressFixture.rightAll(s, dir))
      val prior = Matcher.run(Block(hasGeo = true), l.filter(isOld), r.filter(isOld), addrCfg,
        idCol = "id", textCol = "address_norm")
      Matcher.incremental(Block(hasGeo = true),
        l.filter(isOld), l.filter(not(isOld)),
        r.filter(isOld), r.filter(not(isOld)),
        prior, addrCfg, idCol = "id", textCol = "address_norm")
    }),
    // J30 exact edit-distance threshold join (q-gram prefix filtering,
    // Ed-Join style): every pair within levenshtein 3, left side
    // subsetted (custkey % 5) to bound the brute-force oracle's cost.
    "a_edjoin" -> ((s, dir) => {
      val keep = expr("try_cast(id AS BIGINT) % 5 = 0")
      graft.blocking.EdJoin.edJoin(
        addrNorm(AddressFixture.left(s, dir)).filter(keep),
        addrNorm(AddressFixture.rightAll(s, dir)),
        k = 3, q = 2, idCol = "id", textCol = "address_norm")
    }),
    // Transitive clustering — large-star/small-star connected components.
    "a_clusters" -> ((s, dir) => addrClusters(s, dir)),
    // Star clustering: single-pass hub assignment over the same
    // accepted match edges — the bounded-diameter, chaining-proof
    // alternative to transitive closure (StarClustering scaladoc).
    "a_clusters_star" -> ((s, dir) =>
      graft.cluster.StarClustering.assign(addrMatchLev(s, dir))),
    // A13 cluster-quality metrics (ARI, B-cubed, pairwise P/R/F1).
    "e_cluster_metrics" -> ((s, dir) => addrClusterMetrics(s, dir)),
    // A15 golden-record survivorship: collapse each CC cluster to one
    // canonical record (min-id handle, majority-vote + most-complete
    // text rules — GoldenRecord scaladoc).
    "a_golden" -> ((s, dir) => {
      val recs = addrNorm(AddressFixture.left(s, dir))
        .unionAll(addrNorm(AddressFixture.rightAll(s, dir)))
        .select(col("id"), col("address_norm"))
      graft.cluster.GoldenRecord.merge(
        recs, addrClusters(s, dir), idCol = "id", textCol = "address_norm")
    }),
    // A16 cluster medoid: the member minimizing intra-cluster edit
    // distance — a real whole record as the canonical representative,
    // vs a_golden's per-field survivorship (GoldenRecord.medoid
    // scaladoc).
    "a_medoid" -> ((s, dir) => {
      val recs = addrNorm(AddressFixture.left(s, dir))
        .unionAll(addrNorm(AddressFixture.rightAll(s, dir)))
        .select(col("id"), col("address_norm"))
      graft.cluster.GoldenRecord.medoid(
        recs, addrClusters(s, dir), idCol = "id", textCol = "address_norm")
    }),
    // Multi-field survivorship (A15b): per-field rules — most-complete
    // for the free-text field, majority vote for the extracted digit
    // run — NULL-skipping, one stacked shuffle for both fields. The
    // production golden-record shape (fields may survive from
    // different members).
    "a_golden_multi" -> ((s, dir) => {
      val recs = addrNorm(AddressFixture.left(s, dir))
        .unionAll(addrNorm(AddressFixture.rightAll(s, dir)))
        .select(col("id"), col("address_norm"),
          regexp_extract(col("address_norm"), "[0-9]+", 0).as("digits"))
      graft.cluster.GoldenRecord.mergeFields(
        recs, addrClusters(s, dir),
        fields = Seq("address_norm" -> "longest", "digits" -> "mode"))
    }),
    // Incremental survivorship: prior clusters (half the match edges
    // by deterministic pair hash) -> prior golden table, then the
    // incremental-CC fold grows/merges clusters and mergeIncremental
    // recomputes ONLY the touched components, passing untouched golden
    // rows through. Provably = full merge over the final clusters
    // (GoldenRecord.mergeIncremental scaladoc), so the oracle is the
    // a_golden SQL verbatim.
    "a_golden_incr" -> ((s, dir) => {
      val recs = addrNorm(AddressFixture.left(s, dir))
        .unionAll(addrNorm(AddressFixture.rightAll(s, dir)))
        .select(col("id"), col("address_norm"))
      val edges = addrMatchLev(s, dir).localCheckpoint(true)
      val inPrior = pmod(hash(col("left_id"), col("right_id")), lit(2)) === 0
      val prior = ConnectedComponents.run(
        edges.filter(inPrior), "left_id", "right_id")
      val full = ConnectedComponents.runIncremental(
        prior, edges.filter(not(inPrior)), "left_id", "right_id")
      val priorGolden = graft.cluster.GoldenRecord.merge(
        recs, prior, idCol = "id", textCol = "address_norm")
      val out = graft.cluster.GoldenRecord.mergeIncremental(
        priorGolden, prior, full, recs,
        idCol = "id", textCol = "address_norm").localCheckpoint(true)
      graft.util.CheckpointHygiene.free(prior)
      graft.util.CheckpointHygiene.free(full)
      graft.util.CheckpointHygiene.free(edges)
      out
    }),
    // Incremental medoid — the same touched-component fold over the
    // distance-based canonical record (capped exactly like a_medoid);
    // oracle = the a_medoid SQL verbatim.
    "a_medoid_incr" -> ((s, dir) => {
      val recs = addrNorm(AddressFixture.left(s, dir))
        .unionAll(addrNorm(AddressFixture.rightAll(s, dir)))
        .select(col("id"), col("address_norm"))
      val edges = addrMatchLev(s, dir).localCheckpoint(true)
      val inPrior = pmod(hash(col("left_id"), col("right_id")), lit(2)) === 0
      val prior = ConnectedComponents.run(
        edges.filter(inPrior), "left_id", "right_id")
      val full = ConnectedComponents.runIncremental(
        prior, edges.filter(not(inPrior)), "left_id", "right_id")
      val priorMedoid = graft.cluster.GoldenRecord.medoid(
        recs, prior, idCol = "id", textCol = "address_norm")
      val out = graft.cluster.GoldenRecord.medoidIncremental(
        priorMedoid, prior, full, recs,
        idCol = "id", textCol = "address_norm").localCheckpoint(true)
      graft.util.CheckpointHygiene.free(prior)
      graft.util.CheckpointHygiene.free(full)
      graft.util.CheckpointHygiene.free(edges)
      out
    }),
    // Incremental clustering: the committed match pairs split into a
    // prior batch and an increment by a deterministic pair hash; the
    // prior batch is clustered, committed as (id, component), and the
    // increment is folded in via the star-contraction union
    // (ConnectedComponents.runIncremental scaladoc proves the result
    // equals clustering ALL edges, so the oracle is a_clusters' SQL
    // verbatim — the strongest check an incremental path can get).
    "a_clusters_incr" -> ((s, dir) => {
      // materialize the match ONCE: both CC calls filter it, and each
      // would otherwise re-run the full salted block join (the most
      // expensive plan in the suite) for its own raw-edge checkpoint
      val edges = addrMatchLev(s, dir).localCheckpoint(true)
      val inPrior = pmod(hash(col("left_id"), col("right_id")), lit(2)) === 0
      val prior = ConnectedComponents.run(
        edges.filter(inPrior), "left_id", "right_id")
      val out = ConnectedComponents.runIncremental(
        prior, edges.filter(not(inPrior)), "left_id", "right_id")
      // out is eagerly checkpointed by run(); the intermediates are
      // dead weight in executor storage from here on
      graft.util.CheckpointHygiene.free(prior)
      graft.util.CheckpointHygiene.free(edges)
      out
    }),
    // Soft-TF-IDF enrichment (J38): the Cohen-Ravikumar-Fienberg
    // hybrid — TF-IDF weights with Jaro-Winkler-soft token alignment
    // at theta=0.9 — over the accepted address matches. Identical
    // records score exactly 1.0 (L2-normalized self-alignment).
    "a_match_softtfidf" -> ((s, dir) => {
      val recs = addrNorm(AddressFixture.left(s, dir))
        .unionAll(addrNorm(AddressFixture.rightAll(s, dir)))
        .select(col("id"), col("address_norm"))
      val w = graft.similarity.SoftTfIdf.weights(
        recs, idCol = "id", textCol = "address_norm")
      graft.similarity.SoftTfIdf.enrich(addrMatchLev(s, dir), w, theta = 0.9)
    }),
    // Oversized-cluster split by threshold escalation (A19): clusters
    // beyond maxMembers=6 re-cluster their internal edges at the
    // escalated score 95 — weak bridge edges (the chaining culprits)
    // break, confident sub-entities survive, small clusters pass
    // through untouched. At sf0.01 the fixture CC yields size-6 AND
    // size-8 clusters, so both the pass-through and the split path are
    // hash-checked at the driver's gate scale.
    "a_clusters_split" -> ((s, dir) => {
      val edges = addrMatchLev(s, dir).localCheckpoint(true)
      val asg = ConnectedComponents.run(edges, "left_id", "right_id")
      val out = graft.cluster.ClusterSplit.splitOversized(
        edges, asg, maxMembers = 6, minScore = 95.0).localCheckpoint(true)
      graft.util.CheckpointHygiene.free(asg)
      graft.util.CheckpointHygiene.free(edges)
      out
    }),
    // Assignment drift metrics (A20): the monitoring row for the
    // incremental path — prior = CC over the md5-half of the match
    // edges (md5 replicates bit-for-bit in DuckDB, unlike Spark's
    // Murmur3 hash), current = the incremental fold of the rest.
    // Exact-integer churn/split/merge counts + pair stability ratios.
    "e_assign_drift" -> ((s, dir) => {
      val edges = addrMatchLev(s, dir).localCheckpoint(true)
      val inPrior =
        substring(md5(concat_ws("|", col("left_id"), col("right_id"))), 1, 1) <= "7"
      val prior = ConnectedComponents.run(
        edges.filter(inPrior), "left_id", "right_id")
      val full = ConnectedComponents.runIncremental(
        prior, edges.filter(not(inPrior)), "left_id", "right_id")
      val out = graft.cluster.AssignmentDrift.drift(prior, full)
        .localCheckpoint(true)
      graft.util.CheckpointHygiene.free(prior)
      graft.util.CheckpointHygiene.free(full)
      graft.util.CheckpointHygiene.free(edges)
      out
    }),
    // Index mode (J14): positional zip join.
    "a_match_index" -> ((s, dir) =>
      Matcher.matchIndex(AddressFixture.left(s, dir), AddressFixture.right(s, dir, 1))),
    // Pairwise P/R/F1 for the address match vs labeled ground truth (A9/J18).
    "e_addr_metrics" -> ((s, dir) => {
      val m = addrMatchLev(s, dir)
        .withColumn("hit",
          (col("right_id") === concat(lit("r"), col("left_id"))) ||
            (col("right_id") === concat(lit("s"), col("left_id"))))
      val nLeft = AddressFixture.left(s, dir).count()
      m.agg(
        sum(when(col("hit"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("hit"), 0L).otherwise(1L)).as("fp"))
        .withColumn("fn", lit(nLeft * 2) - col("tp"))
        .withColumn("precision", col("tp").cast("double") / (col("tp") + col("fp")))
        .withColumn("recall", col("tp").cast("double") / (col("tp") + col("fn")))
        .withColumn("f1",
          lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")))
    }),
    // J13: keep_best_per_right (doc'd but unimplemented in the reference).
    "m_keep_best" -> ((s, dir) => Matcher.keepBestPerRight(addrMatchLev(s, dir))),
    // J17: enrichment preview joins.
    "m_preview" -> ((s, dir) => Matcher.preview(
      addrMatchLev(s, dir),
      addrNorm(AddressFixture.left(s, dir)),
      addrNorm(AddressFixture.rightAll(s, dir)),
      idCol = "id", textCol = "address_norm")),
    // J18: eval merge (gold vs predicted pairing, exact-match accuracy).
    "e_eval_merge" -> ((s, dir) => {
      val gold = AddressFixture.left(s, dir)
        .select(col("id").as("left_id"), concat(lit("r"), col("id")).as("right_id"))
      val pred = addrMatchLev(s, dir)
        .filter(col("right_id").startsWith("r"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("left_id")).orderBy(col("score").desc, col("right_id").asc)
      val best = pred.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      Matcher.evalMerge(gold, best)
    }),
    // T1 gap-based sessionization over the events stream (12h gap):
    // lag + prefix-sum windows inside one shuffle on user_id.
    "s_sessions" -> ((s, dir) =>
      graft.sessions.Sessionize.assignSessions(
          s.read.parquet(s"$dir/events.parquet"), gapSeconds = 43200L)
        .select("user_id", "event_id", "ts", "session_idx")),
    "s_session_stats" -> ((s, dir) =>
      graft.sessions.Sessionize.sessionStats(
        graft.sessions.Sessionize.assignSessions(
          s.read.parquet(s"$dir/events.parquet"), gapSeconds = 43200L))),
    // T1 incremental: a deterministic even/odd split of the events
    // stream, the even half committed as a prior assignment, the odd
    // half (plus a replayed slice of the old half — at-least-once)
    // folded in. Provably equal to the full sessionization, so the
    // oracle is s_sessions' SQL VERBATIM — the strongest check an
    // incremental path can get.
    "s_sessions_incr" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select("user_id", "event_id", "ts")
      val isOld = col("event_id") % 2 === 0
      val prior = graft.sessions.Sessionize.assignSessions(
        ev.filter(isOld), gapSeconds = 43200L)
      val increment = ev.filter(!isOld)
        .unionAll(ev.filter(isOld && col("event_id") % 10 === 0)) // replay
      graft.sessions.Sessionize.assignSessionsIncremental(
        prior, increment, gapSeconds = 43200L)
        .select("user_id", "event_id", "ts", "session_idx")
    }),
    // T2 as-of join: for every event, the latest prior (ts-inclusive)
    // error event of the same user — sort-merge window formulation,
    // one shuffle, zero join fan-out (AsOfJoin scaladoc).
    "j_asof" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.temporal.AsOfJoin.nearestPrior(
        ev.select("user_id", "event_id", "ts"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts"),
            col("event_id").as("err_event_id")),
        keyCol = "user_id", leftTsCol = "ts",
        rightTsCol = "err_ts", rightTieCol = "err_event_id")
    }),
    // T3 binned range join: every event inside a 1h incident window
    // opened by each error event of the same user — (key, bin)
    // equi-join, exact filter, no per-key all-pairs (RangeJoin scaladoc).
    "j_range" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.temporal.RangeJoin.pointInInterval(
        ev.select("user_id", "event_id", "ts"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_event_id"),
            col("ts").as("win_lo"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("win_hi")),
        keyCol = "user_id", ptCol = "ts", loCol = "win_lo", hiCol = "win_hi",
        binSeconds = 3600L)
    }),
    // T5 binned interval-overlap join: each error event's 1h incident
    // window × each signup event's 2h activity window of the same user
    // that overlap — (key, bin) equi-join with a responsible-bin gate
    // instead of a dedup pass (RangeJoin.intervalOverlap scaladoc).
    "j_interval" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.temporal.RangeJoin.intervalOverlap(
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("event_id").as("err_event_id"),
            col("ts").as("err_lo"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("err_hi")),
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("ses_event_id"),
            col("ts").as("ses_lo"),
            (col("ts") + expr("INTERVAL 2 HOUR")).as("ses_hi")),
        keyCol = "user_id", leftLoCol = "err_lo", leftHiCol = "err_hi",
        rightLoCol = "ses_lo", rightHiCol = "ses_hi", binSeconds = 3600L)
    }),
    // W5 stratified sampling: deterministic per-stratum top-N by hash
    // rank — the training-data curation primitive (balanced samples per
    // class/language/source). One window per stratum, no collect; at
    // 100 TB the hash order makes the sample reproducible across runs
    // and partitionings, unlike rand()-based sampleBy.
    "w_stratified" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
            .orderBy(md5(col("event_id").cast("string")).asc, col("event_id").asc)))
        .filter(col("rn") <= 20)
        .select("event_type", "event_id")),
    // W3: deterministic sampling (hash-order + limit; seed-stable).
    "w_sample" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .orderBy(md5(col("doc_id").cast("string"))).limit(100).select("doc_id")),
    // F4: low-confidence tagging + sample weight (suspiciousclean.py:57-59).
    "f_lowconf" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), (length(col("text")) < 100).as("low"))
        .select(col("doc_id"),
          when(col("low"), "low_confidence").otherwise("ok").as("flag"),
          when(col("low"), 0.5).otherwise(1.0).as("sample_weight"))),
    // Multimodal plumbing: binary payload + metadata + stub decode.
    "mm_media_stats" -> ((s, dir) => {
      val m = graft.multimodal.Multimodal.byteHistogram(
        graft.multimodal.Multimodal.decodeStub(
          graft.multimodal.Multimodal.mediaTable(s, dir)))
      m.select(col("doc_id"), col("n_bytes"),
        col("decoded.width").as("width"), col("decoded.height").as("height"),
        element_at(col("byte_hist"), 2).as("h_bin1"),
        element_at(col("byte_hist"), 4).as("h_bin3"))
    }),
    // Pairwise linkage metrics vs the latent entity ground truth (A9).
    "e_pair_metrics" -> ((s, dir) => {
      val m = matchJw(s, dir)
        .withColumn("le", regexp_extract(col("left_id"), "c([0-9]+)_", 1).cast("bigint"))
        .withColumn("re", regexp_extract(col("right_id"), "c([0-9]+)_", 1).cast("bigint"))
      val conv = convNorm(s, dir)
      val nLeft = conv.filter(col("variant") === 0).count()
      // ground-truth positives: (v0, v>0) pairs of the same entity = 2/left
      m.agg(
        sum(when(col("le") === col("re"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("le") =!= col("re"), 1L).otherwise(0L)).as("fp"))
        .withColumn("fn", lit(nLeft * 2) - col("tp"))
        .withColumn("precision", col("tp").cast("double") / (col("tp") + col("fp")))
        .withColumn("recall", col("tp").cast("double") / (col("tp") + col("fn")))
        .withColumn("f1",
          lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp") + col("fn")))
    })
  )

  def oracleSql: Map[String, String] = ExtraQueries.oracleSql ++ Map(
    "a_left_norm" -> withAddrCtes(
      s"SELECT id, ${Normalizer.normalizeAddressSqlDuck("address")} AS address_norm, lat, lon FROM addr_left"),
    "a_right_norm" -> withAddrCtes(
      s"SELECT id, ${Normalizer.normalizeAddressSqlDuck("address")} AS address_norm, lat, lon FROM addr_right"),
    "a_match_lev" -> withAddrCtes(s"SELECT * FROM ($addrMatchBody)"),
    "a_match_dl" -> withAddrCtes(
      s"SELECT * FROM (${addrMatchBodyWith(Scores.dlRatioSqlDuck("l.t", "r.t"))})"),
    "a_match_phon" -> withAddrCtes(
      s"SELECT * FROM (${addrMatchBodyWith(Scores.levRatioSqlDuck("l.t", "r.t"), BlockKeys.phoneticKeySqlDuck("t"))})"),
    "a_selfmatch" -> withAddrCtes(s"SELECT * FROM ($addrSelfMatchBody)"),
    "e_threshold_sweep" -> withCtes(
      s"""
         |, $matchJwChainCtes
         |, swh AS (
         |  SELECT score,
         |         CASE WHEN CAST(regexp_extract(left_id, 'c([0-9]+)_', 1) AS BIGINT)
         |                 = CAST(regexp_extract(right_id, 'c([0-9]+)_', 1) AS BIGINT)
         |              THEN 1 ELSE 0 END AS g,
         |         count(*) AS cnt
         |  FROM scored GROUP BY 1, 2),
         |swt AS (SELECT CAST(50.0 AS DOUBLE) + CAST(5.0 AS DOUBLE) * CAST(x AS DOUBLE) AS t
         |        FROM generate_series(0, 9) AS s(x)),
         |swa AS (
         |  SELECT t,
         |         CAST(sum(CASE WHEN g = 1 THEN cnt ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN g = 0 THEN cnt ELSE 0 END) AS BIGINT) AS fp
         |  FROM swt LEFT JOIN swh ON swh.score >= swt.t
         |  GROUP BY t),
         |n AS (SELECT CAST(COALESCE(sum(nl * nr), 0) AS BIGINT) AS gold FROM
         |  (SELECT entity_id, count(*) AS nl FROM conv_norm WHERE variant = 0 GROUP BY 1) gl
         |  JOIN (SELECT entity_id, count(*) AS nr FROM conv_norm WHERE variant > 0 GROUP BY 1) gr
         |  USING (entity_id))
         |SELECT t, tp, fp, gold - tp AS fn,
         |       CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
         |            ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
         |       CAST(tp AS DOUBLE) / (tp + (gold - tp)) AS recall,
         |       2.0::DOUBLE * tp / (2.0::DOUBLE * tp + fp + (gold - tp)) AS f1
         |FROM swa, n
         |""".stripMargin),
    "fs_em_params" -> withAddrCtes(
      s", $fsGamCte ${FellegiSunter.emChainSqlDuck(fsCfg)} " +
        FellegiSunter.emParamsSelectSqlDuck(fsCfg)),
    "fs_em_match" -> withAddrCtes(
      s", $fsGamCte ${FellegiSunter.emChainSqlDuck(fsCfg)} " +
        FellegiSunter.emMatchSelectSqlDuck(fsCfg)),
    "fs_zones" -> withAddrCtes(
      s", $fsGamCte ${FellegiSunter.emChainSqlDuck(fsCfg)}" +
        s"${FellegiSunter.zonesCteSqlDuck(fsCfg)} " +
        FellegiSunter.zonesSelectSqlDuck),
    "fs_review" -> withAddrCtes(
      s", $fsGamCte ${FellegiSunter.emChainSqlDuck(fsCfg)}" +
        s"${FellegiSunter.zonesCteSqlDuck(fsCfg)} " +
        FellegiSunter.reviewSelectSqlDuck),
    "fs_text_gammas" -> withCtes(
      s", $fsTextGamCte SELECT left_id, right_id, g_t, g_d, g_g FROM gam"),
    "fs_text_zones" -> withCtes(
      s", $fsTextGamCte ${FellegiSunter.emChainSqlDuck(fsTextCfg)}" +
        s"${FellegiSunter.zonesCteSqlDuck(fsTextCfg)} " +
        FellegiSunter.zonesSelectSqlDuck),
    "b_meta_wep" -> withAddrCtes(
      s", $addrNormCtes, ${graft.blocking.MetaBlocking.pairWeightsCteDuck(mbCfg)} " +
        graft.blocking.MetaBlocking.wepSelectSqlDuck),
    "b_meta_cnp" -> withAddrCtes(
      s", $addrNormCtes, ${graft.blocking.MetaBlocking.pairWeightsCteDuck(mbCfg)} " +
        graft.blocking.MetaBlocking.cnpSelectSqlDuck(mbCfg.cnpK)),
    // incremental == full (see the queries entry), so the oracle is
    // the full-match SQL verbatim
    "a_match_incr" -> withAddrCtes(s"SELECT * FROM ($addrMatchBody)"),
    // incremental == full (star-contraction argument in the
    // runIncremental scaladoc), so the oracle is a_clusters' verbatim
    // soft-TF-IDF: weights + best-match alignment mirrored end to end
    // (jaro_winkler_similarity = the proven JaroWinkler twin)
    "a_match_softtfidf" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, m AS ($addrMatchBody),
         |recs AS (SELECT id, $normL AS t FROM addr_left
         |         UNION ALL SELECT id, $normL AS t FROM addr_right),
         |${graft.similarity.SoftTfIdf.enrichSqlDuck(0.9)}
         |""".stripMargin
    },
    // split: the full CC chain, then the escalated-threshold
    // re-closure of oversized clusters — the whole rule mirrored
    "a_clusters_split" -> withAddrCtes(
      s"""
         |, $addrCcCtes,
         |${graft.cluster.ClusterSplit.splitOversizedSqlDuck(6, 95.0)}
         |""".stripMargin),
    // drift: prior = recursive-CTE closure of the md5-half of the
    // edges (the identical cross-engine split), current = closure of
    // ALL edges (incremental == full on the Spark side), then the
    // exact-integer drift frame
    "e_assign_drift" -> withAddrCtes(
      s"""
         |, m AS ($addrMatchBody),
         |mp AS (SELECT * FROM m
         |       WHERE substr(md5(left_id || '|' || right_id), 1, 1) <= '7'),
         |pedges AS (SELECT left_id AS u, right_id AS v FROM mp
         |           UNION SELECT right_id, left_id FROM mp),
         |pverts AS (SELECT DISTINCT u AS id FROM pedges),
         |pasg AS (SELECT id, component FROM (
         |  WITH RECURSIVE preach(id, r) AS (
         |    SELECT id, id FROM pverts
         |    UNION
         |    SELECT preach.id, e.v FROM preach JOIN pedges e ON preach.r = e.u
         |  )
         |  SELECT id, min(r) AS component FROM preach GROUP BY id
         |)),
         |edges AS (SELECT left_id AS u, right_id AS v FROM m
         |          UNION SELECT right_id, left_id FROM m),
         |verts AS (SELECT DISTINCT u AS id FROM edges),
         |nasg AS (SELECT id, component FROM (
         |  WITH RECURSIVE reach(id, r) AS (
         |    SELECT id, id FROM verts
         |    UNION
         |    SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
         |  )
         |  SELECT id, min(r) AS component FROM reach GROUP BY id
         |)),
         |${graft.cluster.AssignmentDrift.driftSqlDuck}
         |""".stripMargin),
    "a_clusters_incr" -> withAddrCtes(
      s"""
         |, m AS ($addrMatchBody),
         |edges AS (SELECT left_id AS u, right_id AS v FROM m
         |          UNION SELECT right_id, left_id FROM m),
         |verts AS (SELECT DISTINCT u AS id FROM edges)
         |SELECT id, component FROM (
         |  WITH RECURSIVE reach(id, r) AS (
         |    SELECT id, id FROM verts
         |    UNION
         |    SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
         |  )
         |  SELECT id, min(r) AS component FROM reach GROUP BY id
         |)
         |""".stripMargin),
    // J30: independent-formulation oracle — brute length-banded
    // levenshtein join, no q-grams (left subset bounds its cost).
    "a_edjoin" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, ln AS (SELECT id, $normL AS t FROM addr_left
         |         WHERE CAST(id AS BIGINT) % 5 = 0)
         |, rn AS (SELECT id, $normL AS t FROM addr_right)
         |${graft.blocking.EdJoin.edJoinSqlDuck(3)}
         |""".stripMargin
    },
    "a_clusters" -> withAddrCtes(s"\n, $addrCcCtes\nSELECT id, component FROM cc\n"),
    // Window-function mirror of the one-hop hub assignment: symmetrized
    // distinct edges -> degree -> argmax (deg DESC, nb ASC) over
    // neighbors + self. No recursion — same three relational steps as
    // the Spark plan.
    "a_clusters_star" -> withAddrCtes(
      s"""
         |, m AS ($addrMatchBody)
         |, edges AS (SELECT left_id AS u, right_id AS v FROM m
         |            UNION SELECT right_id, left_id FROM m)
         |, deg AS (SELECT u AS id, count(*) AS deg FROM edges GROUP BY u)
         |, nbr AS (SELECT u AS id, v AS nb FROM edges
         |          UNION ALL SELECT id, id FROM deg)
         |, cand AS (SELECT n.id, n.nb, d.deg FROM nbr n JOIN deg d ON d.id = n.nb)
         |SELECT id, nb AS cluster FROM (
         |  SELECT id, nb,
         |         row_number() OVER (PARTITION BY id
         |                            ORDER BY deg DESC, nb ASC) AS rn
         |  FROM cand)
         |WHERE rn = 1
         |""".stripMargin),
    // A13 cluster-quality metrics: ARI + B-cubed + pairwise P/R over
    // the CC clustering vs the gold entity key (digits of the id).
    "e_cluster_metrics" -> withAddrCtes(
      s"""
         |, $addrCcCtes,
         |asg AS (SELECT component AS c, regexp_extract(id, '[0-9]+', 0) AS g FROM cc),
         |${ClusterMetrics.metricsSqlDuck}
         |""".stripMargin),
    // A15: golden-record survivorship over the CC clusters — member
    // records joined to components, then the GoldenRecord rule mirror.
    "a_golden" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, $addrCcCtes,
         |grec AS (
         |  SELECT c.component, s.id, s.t FROM (
         |    SELECT id, $normL AS t FROM addr_left
         |    UNION ALL SELECT id, $normL AS t FROM addr_right) s
         |  JOIN cc c ON s.id = c.id),
         |${graft.cluster.GoldenRecord.mergeSqlDuck}
         |""".stripMargin
    },
    "a_medoid" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, $addrCcCtes,
         |grec AS (
         |  SELECT c.component, s.id, s.t FROM (
         |    SELECT id, $normL AS t FROM addr_left
         |    UNION ALL SELECT id, $normL AS t FROM addr_right) s
         |  JOIN cc c ON s.id = c.id),
         |${graft.cluster.GoldenRecord.medoidSqlDuck()}
         |""".stripMargin
    },
    "a_golden_multi" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, $addrCcCtes,
         |grecN AS (
         |  SELECT c.component, s.id, s.address_norm,
         |         regexp_extract(s.address_norm, '[0-9]+', 0) AS digits
         |  FROM (SELECT id, $normL AS address_norm FROM addr_left
         |        UNION ALL SELECT id, $normL AS address_norm FROM addr_right) s
         |  JOIN cc c ON s.id = c.id),
         |${graft.cluster.GoldenRecord.mergeFieldsSqlDuck(
             Seq("address_norm" -> "longest", "digits" -> "mode"))}
         |""".stripMargin
    },
    // incremental == full (touched-component fold proof in the
    // queries entries), so both oracles are the full SQL verbatim
    "a_golden_incr" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, $addrCcCtes,
         |grec AS (
         |  SELECT c.component, s.id, s.t FROM (
         |    SELECT id, $normL AS t FROM addr_left
         |    UNION ALL SELECT id, $normL AS t FROM addr_right) s
         |  JOIN cc c ON s.id = c.id),
         |${graft.cluster.GoldenRecord.mergeSqlDuck}
         |""".stripMargin
    },
    "a_medoid_incr" -> withAddrCtes {
      val normL = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, $addrCcCtes,
         |grec AS (
         |  SELECT c.component, s.id, s.t FROM (
         |    SELECT id, $normL AS t FROM addr_left
         |    UNION ALL SELECT id, $normL AS t FROM addr_right) s
         |  JOIN cc c ON s.id = c.id),
         |${graft.cluster.GoldenRecord.medoidSqlDuck()}
         |""".stripMargin
    },
    "a_match_index" -> withAddrCtes(
      s"""
         |, l AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM addr_left),
         |r AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM addr_right
         |      WHERE id LIKE 'r%')
         |SELECT l.id AS left_id, r.id AS right_id, CAST(1.0 AS DOUBLE) AS score
         |FROM l JOIN r USING (rn)
         |""".stripMargin),
    "m_keep_best" -> withAddrCtes(
      s"""
         |, m AS ($addrMatchBody)
         |SELECT left_id, right_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY right_id
         |                               ORDER BY score DESC, left_id ASC) AS rn2
         |  FROM m) WHERE rn2 = 1
         |""".stripMargin),
    "m_preview" -> withAddrCtes {
      val norm = Normalizer.normalizeAddressSqlDuck("address")
      s"""
         |, m AS ($addrMatchBody),
         |ln AS (SELECT id, $norm AS t FROM addr_left),
         |rn AS (SELECT id, $norm AS t FROM addr_right)
         |SELECT m.left_id, ln.t AS left_text, m.right_id, rn.t AS right_text, m.score
         |FROM m LEFT JOIN ln ON m.left_id = ln.id LEFT JOIN rn ON m.right_id = rn.id
         |""".stripMargin
    },
    "e_eval_merge" -> withAddrCtes(
      s"""
         |, m AS ($addrMatchBody),
         |pred AS (
         |  SELECT left_id, right_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY left_id
         |                                 ORDER BY score DESC, right_id ASC) AS rn2
         |    FROM m WHERE right_id LIKE 'r%') WHERE rn2 = 1),
         |gold AS (SELECT id AS left_id, 'r' || id AS right_id FROM addr_left),
         |j AS (SELECT gold.right_id AS gold_right, pred.right_id AS pred_right
         |      FROM gold JOIN pred USING (left_id))
         |SELECT count(*) AS n,
         |       CAST(sum(CASE WHEN gold_right = pred_right THEN 1 ELSE 0 END) AS BIGINT) AS correct,
         |       CAST(sum(CASE WHEN gold_right = pred_right THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accuracy
         |FROM j
         |""".stripMargin),
    // T1: full mirrors of the sessionization windows (exact integer
    // microsecond arithmetic both sides).
    "s_sessions" ->
      graft.sessions.Sessionize.assignSessionsSqlDuck("events", gapSeconds = 43200L),
    "s_session_stats" ->
      graft.sessions.Sessionize.sessionStatsSqlDuck("events", gapSeconds = 43200L),
    // T1 incremental: = the full-sessionization SQL verbatim (the
    // incremental fold is provably identical to the full recompute).
    "s_sessions_incr" ->
      graft.sessions.Sessionize.assignSessionsSqlDuck("events", gapSeconds = 43200L),
    // T2: independent-implementation oracle — DuckDB's native ASOF
    // LEFT JOIN over the same sides, ties pre-deduped to the row the
    // Spark window picks.
    "j_asof" -> {
      val asof = graft.temporal.AsOfJoin.nearestPriorSqlDuck(
        "le", "re", "user_id", "ts", "err_ts", "err_event_id",
        leftCols = Seq("event_id", "ts"), payCols = Seq("err_ts", "err_event_id"))
      s"""WITH le AS (SELECT user_id, event_id, ts FROM events),
         |re AS (SELECT user_id, ts AS err_ts, event_id AS err_event_id
         |       FROM events WHERE event_type = 'error')
         |$asof""".stripMargin
    },
    // T3: independent-formulation oracle — the plain range-predicate
    // join, no bins.
    "j_range" -> {
      val rj = graft.temporal.RangeJoin.pointInIntervalSqlDuck(
        "pts", "ivs", "user_id", "ts", "win_lo", "win_hi",
        ptCols = Seq("event_id", "ts"),
        payCols = Seq("err_event_id", "win_lo", "win_hi"))
      s"""WITH pts AS (SELECT user_id, event_id, ts FROM events),
         |ivs AS (SELECT user_id, event_id AS err_event_id, ts AS win_lo,
         |               ts + INTERVAL 1 HOUR AS win_hi
         |        FROM events WHERE event_type = 'error')
         |$rj""".stripMargin
    },
    // T5: independent-formulation oracle — the plain overlap-predicate
    // join, no bins, no responsible-bin gate.
    "j_interval" -> {
      val ij = graft.temporal.RangeJoin.intervalOverlapSqlDuck(
        "ivl", "ivr", "user_id", "err_lo", "err_hi", "ses_lo", "ses_hi",
        lCols = Seq("err_event_id", "err_lo", "err_hi"),
        rCols = Seq("ses_event_id", "ses_lo", "ses_hi"))
      s"""WITH ivl AS (SELECT user_id, event_id AS err_event_id, ts AS err_lo,
         |               ts + INTERVAL 1 HOUR AS err_hi
         |        FROM events WHERE event_type = 'error'),
         |ivr AS (SELECT user_id, event_id AS ses_event_id, ts AS ses_lo,
         |               ts + INTERVAL 2 HOUR AS ses_hi
         |        FROM events WHERE event_type = 'signup')
         |$ij""".stripMargin
    },
    "w_stratified" -> """
      |SELECT event_type, event_id FROM (
      |  SELECT event_type, event_id,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY md5(CAST(event_id AS STRING)) ASC,
      |                                     event_id ASC) AS rn
      |  FROM events) WHERE rn <= 20
      |""".stripMargin,
    "w_sample" ->
      "SELECT doc_id FROM documents ORDER BY md5(CAST(doc_id AS STRING)) LIMIT 100",
    "f_lowconf" -> """
      |SELECT doc_id,
      |       CASE WHEN length(text) < 100 THEN 'low_confidence' ELSE 'ok' END AS flag,
      |       CASE WHEN length(text) < 100 THEN CAST(0.5 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS sample_weight
      |FROM documents
      |""".stripMargin,
    "mm_media_stats" -> """
      |SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_bytes,
      |  CAST(length(text) % 640 + 1 AS INT) AS width,
      |  CAST(length(text) % 480 + 1 AS INT) AS height,
      |  len(list_filter(string_split(text, ''), c -> ascii(c) >= 32 AND ascii(c) < 64)) AS h_bin1,
      |  len(list_filter(string_split(text, ''), c -> ascii(c) >= 96 AND ascii(c) < 128)) AS h_bin3
      |FROM documents
      |""".stripMargin,
    "e_addr_metrics" -> withAddrCtes(
      s"""
         |, m AS ($addrMatchBody),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN right_id = 'r' || left_id
         |                         OR right_id = 's' || left_id
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN right_id = 'r' || left_id
         |                         OR right_id = 's' || left_id
         |                  THEN 0 ELSE 1 END) AS BIGINT) AS fp
         |  FROM m),
         |n AS (SELECT count(*) AS n_left FROM addr_left)
         |SELECT tp, fp, n_left * 2 - tp AS fn,
         |       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
         |       CAST(tp AS DOUBLE) / (tp + (n_left * 2 - tp)) AS recall,
         |       CAST(2.0 AS DOUBLE) * tp / (CAST(2.0 AS DOUBLE) * tp + fp + (n_left * 2 - tp)) AS f1
         |FROM c, n
         |""".stripMargin),
    "t_transcripts" -> withCtes(
      "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts"),
    "t_conv_norm" -> withCtes(
      "SELECT conv_id, entity_id, variant, text_norm FROM conv_norm"),
    "n_tool_counts" -> withCtes(
      s"""SELECT ${Normalizer.normToolSqlDuck("tool")} AS tool_norm, count(*) AS cnt
         |FROM transcripts WHERE tool IS NOT NULL GROUP BY 1""".stripMargin),
    "b_block_keys" -> withCtes(
      s"""SELECT conv_id, ${BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)} AS block_key
         |FROM conv_norm""".stripMargin),
    "b_block_hist" -> withCtes(
      s""", lk AS (SELECT ${BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)} AS block_key
         |         FROM conv_norm WHERE variant = 0),
         |rk AS (SELECT ${BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)} AS block_key
         |       FROM conv_norm WHERE variant > 0),
         |lh AS (SELECT block_key, count(*) AS nl FROM lk GROUP BY 1),
         |rh AS (SELECT block_key, count(*) AS nr FROM rk GROUP BY 1)
         |SELECT lh.block_key, nl, nr, nl * nr AS pairs
         |FROM lh JOIN rh ON lh.block_key = rh.block_key""".stripMargin),
    "m_tsr_pretok" -> withCtes(
      """SELECT conv_id,
        |       array_to_string(list_sort(list_distinct(
        |         list_filter(string_split_regex(text_norm, '\s+'), t -> t <> ''))), ' ') AS tokset
        |FROM conv_norm""".stripMargin),
    "m_match_tsr_agree" -> withCtes(
      s"""
         |, sides AS (SELECT conv_id, variant, text_norm,
         |            ${BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)} AS block_key
         |            FROM conv_norm)
         |SELECT l.conv_id AS left_id, r.conv_id AS right_id, 1 AS tsr_agree
         |FROM sides l JOIN sides r ON l.block_key = r.block_key
         |WHERE l.variant = 0 AND r.variant > 0
         |""".stripMargin),
    "m_match_jw" -> matchJwOracle,
    // bloom pregate is output-invariant, so the oracle is the plain
    // match SQL verbatim (see the queries entry)
    "m_match_bloom" -> matchJwOracle,
    "m_match_lsh" -> matchLshOracle,
    "m_match_setsim" -> matchSetSimOracle,
    "m_match_setsim_incr" -> matchSetSimOracle,
    "m_match_lsh_tok" -> matchLshTokOracle,
    // incremental LSH fold is provably = the full LSH match, so the
    // oracle is the full-match SQL verbatim
    "m_match_lsh_incr" -> matchLshOracle,
    "m_match_me" -> matchMeOracle,
    // T4: match chain + tool-bigram CTEs + the enrichment mirror.
    "m_match_toolsim" -> withCtes(
      s"""
         |, $matchJwChainCtes
         |, mp AS (SELECT left_id, right_id, score FROM ranked WHERE rn <= 3)
         |, ${graft.transcripts.ToolSequences.bigramTokensCteDuck}
         |${graft.transcripts.ToolSequences.jaccardEnrichSqlDuck(Seq("score"))}
         |""".stripMargin),
    // J29: full mirror of the prefix-filtered exact Jaccard join
    // (SetSimJoin.jaccardJoinSqlDuck) over the transcript sides.
    "m_setsim_pf" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.jaccardJoinSqlDuck(0.5)}
         |""".stripMargin),
    "m_setsim_cos" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.simJoinSqlDuck(0.6, "cosine")}
         |""".stripMargin),
    "m_setsim_dice" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.simJoinSqlDuck(0.6, "dice")}
         |""".stripMargin),
    "m_setsim_wcos" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.weightedCosineJoinSqlDuck(0.7)}
         |""".stripMargin),
    "m_setsim_contain" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.containJoinSqlDuck(0.75)}
         |""".stripMargin),
    "m_setsim_ocoeff" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm
         |         WHERE variant = 0 AND md5(conv_id) < '02')
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.overlapCoeffJoinSqlDuck(0.9)}
         |""".stripMargin),
    "m_setsim_wjac" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.weightedJaccardJoinSqlDuck(0.97)}
         |""".stripMargin),
    "m_setsim_overlap" -> withCtes(
      s"""
         |, ln AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant = 0)
         |, rn AS (SELECT conv_id AS id, text_norm AS t FROM conv_norm WHERE variant > 0)
         |, ${graft.blocking.SetSimJoin.overlapJoinSqlDuck(30)}
         |""".stripMargin),
    "m_match_sn" -> matchSnOracle,
    "m_match_sn_mp" -> matchSnOracleWith(Seq("t", "reverse(t)")),
    "m_match_sn_ph" -> matchSnOracleWith(
      Seq(graft.blocking.BlockKeys.phoneticKeySqlDuck("t"))),
    "e_blocking_quality" -> withCtes {
      val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
      s"""
         |, sides AS (SELECT conv_id, variant, entity_id, $bk AS bk FROM conv_norm)
         |, l AS (SELECT conv_id AS left_id, bk, entity_id FROM sides WHERE variant = 0)
         |, r AS (SELECT conv_id AS right_id, bk, entity_id FROM sides WHERE variant > 0)
         |, cand AS (SELECT DISTINCT left_id, right_id FROM l JOIN r USING (bk))
         |, truth AS (SELECT DISTINCT left_id, right_id
         |            FROM l JOIN r ON l.entity_id = r.entity_id)
         |, agg AS (
         |  SELECT (SELECT count(*) FROM l) AS n_left,
         |         (SELECT count(*) FROM r) AS n_right,
         |         (SELECT count(*) FROM cand) AS n_cand,
         |         (SELECT count(*) FROM truth) AS n_true,
         |         (SELECT count(*)
         |          FROM (SELECT * FROM truth INTERSECT SELECT * FROM cand)) AS n_true_cand
         |)
         |SELECT n_cand,
         |       round(1.0::DOUBLE - n_cand::DOUBLE
         |             / (n_left::DOUBLE * n_right::DOUBLE), 6) AS reduction_ratio,
         |       round(n_true_cand::DOUBLE / n_true::DOUBLE, 6) AS pairs_completeness,
         |       round(n_true_cand::DOUBLE / n_cand::DOUBLE, 6) AS pairs_quality
         |FROM agg
         |""".stripMargin
    },
    "e_blocking_quality_ph" -> withCtes {
      val bk = BlockKeys.phoneticKeySqlDuck("text_norm")
      s"""
         |, sides AS (SELECT conv_id, variant, entity_id, $bk AS bk FROM conv_norm)
         |, l AS (SELECT conv_id AS left_id, bk, entity_id FROM sides WHERE variant = 0)
         |, r AS (SELECT conv_id AS right_id, bk, entity_id FROM sides WHERE variant > 0)
         |, cand AS (SELECT DISTINCT left_id, right_id FROM l JOIN r USING (bk))
         |, truth AS (SELECT DISTINCT left_id, right_id
         |            FROM l JOIN r ON l.entity_id = r.entity_id)
         |, agg AS (
         |  SELECT (SELECT count(*) FROM l) AS n_left,
         |         (SELECT count(*) FROM r) AS n_right,
         |         (SELECT count(*) FROM cand) AS n_cand,
         |         (SELECT count(*) FROM truth) AS n_true,
         |         (SELECT count(*)
         |          FROM (SELECT * FROM truth INTERSECT SELECT * FROM cand)) AS n_true_cand
         |)
         |SELECT n_cand,
         |       round(1.0::DOUBLE - n_cand::DOUBLE
         |             / (n_left::DOUBLE * n_right::DOUBLE), 6) AS reduction_ratio,
         |       round(n_true_cand::DOUBLE / n_true::DOUBLE, 6) AS pairs_completeness,
         |       round(n_true_cand::DOUBLE / n_cand::DOUBLE, 6) AS pairs_quality
         |FROM agg
         |""".stripMargin
    },
    "m_match_comp" -> matchCompositeOracle,
    "m_match_comp3" -> matchComposite3Oracle,
    // incremental == full (per-pair candidacy union — see the queries
    // entry), so the oracle is the full comp3 SQL verbatim
    "m_match_comp3_incr" -> matchComposite3Oracle,
    // incremental composite fold is provably = the full composite
    // match, so the oracle is the full-match SQL verbatim
    "m_match_comp_incr" -> matchCompositeOracle,
    "m_unmatched_left" -> withCtes(
      s"""
         |, m AS (${matchBody}),
         |l AS (SELECT conv_id, text_norm FROM conv_norm WHERE variant = 0)
         |SELECT l.* FROM l WHERE conv_id NOT IN (SELECT left_id FROM m)
         |""".stripMargin),
    "m_unmatched_right" -> withCtes(
      s"""
         |, m AS (${matchBody}),
         |r AS (SELECT conv_id, text_norm FROM conv_norm WHERE variant > 0)
         |SELECT r.* FROM r WHERE conv_id NOT IN (SELECT right_id FROM m)
         |""".stripMargin),
    "e_pair_metrics" -> withCtes(
      s"""
         |, m AS (${matchBody}),
         |c AS (
         |  SELECT CAST(sum(CASE WHEN CAST(regexp_extract(left_id, 'c([0-9]+)_', 1) AS BIGINT)
         |                           = CAST(regexp_extract(right_id, 'c([0-9]+)_', 1) AS BIGINT)
         |             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN CAST(regexp_extract(left_id, 'c([0-9]+)_', 1) AS BIGINT)
         |                           = CAST(regexp_extract(right_id, 'c([0-9]+)_', 1) AS BIGINT)
         |             THEN 0 ELSE 1 END) AS BIGINT) AS fp
         |  FROM m),
         |n AS (SELECT count(*) AS n_left FROM conv_norm WHERE variant = 0)
         |SELECT tp, fp, n_left * 2 - tp AS fn,
         |       CAST(tp AS DOUBLE) / (tp + fp) AS precision,
         |       CAST(tp AS DOUBLE) / (tp + (n_left * 2 - tp)) AS recall,
         |       2.0::DOUBLE * tp / (2.0::DOUBLE * tp + fp + (n_left * 2 - tp)) AS f1
         |FROM c, n
         |""".stripMargin)
  )

  /** The match CTE body, shared by the unmatched/metrics oracles (no
    * leading WITH; expects transcripts + conv_norm CTEs in scope). */
  private def matchBody: String = {
    val bk = BlockKeys.digitsPrefixKeySqlDuck("text_norm", 6)
    val ds = graft.similarity.Scores.digitsScoreSqlDuck("l.text_norm", "r.text_norm")
    s"""
       |  WITH sides AS (SELECT conv_id, variant, text_norm, $bk AS block_key FROM conv_norm),
       |  scored AS (
       |    SELECT l.conv_id AS left_id, r.conv_id AS right_id,
       |           round((jaro_winkler_similarity(l.text_norm, r.text_norm) * 100.0 * 0.8::DOUBLE
       |                  + $ds::DOUBLE * 0.15::DOUBLE)
       |                 / (0.8::DOUBLE + 0.15::DOUBLE), 2) AS score
       |    FROM sides l JOIN sides r ON l.block_key = r.block_key
       |    WHERE l.variant = 0 AND r.variant > 0
       |  ),
       |  ranked AS (
       |    SELECT *, row_number() OVER (PARTITION BY left_id
       |                                 ORDER BY score DESC, right_id ASC) AS rn
       |    FROM scored WHERE score >= 60.0
       |  )
       |  SELECT left_id, right_id, score FROM ranked WHERE rn <= 3
       |""".stripMargin
  }
}

package graft.matching

import graft.blocking.BlockKeys
import graft.dedup.Dedup
import graft.similarity.{FuzzFunctions, Scores}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Match configuration — mirrors `configs/match.yaml` +
  * the code defaults in `/root/reference/addresskit/match.py:92-129`
  * (threshold 80 / topk 1 / scorer token_set_ratio when unset; the
  * shipped config uses threshold 60 / topk 3 / digits+prefix6 /
  * weights 0.8/0.15/0.05).
  */
case class MatchConfig(
    scorer: String = "token_set_ratio",
    threshold: Double = 80.0,
    topk: Int = 1,
    blockBy: String = "",
    wText: Double = 0.8,
    wDigits: Double = 0.2,
    wGeo: Double = 0.2,
    geoMaxKm: Double = 1.5,
    semanticStopwords: Seq[String] = Nil,
    saltBuckets: Int = 0,
    /** A block key is "hot" (and gets salted) when its candidate-pair
      * volume |L_k|·|R_k| reaches this; cold keys skip the build-side
      * replication entirely. */
    saltHotPairs: Long = 65536L,
    /** Pre-computed hot-key set (e.g. the block-key histogram a
      * TableIO snapshot records at commit time as part of its
      * per-partition metrics). When set, the matcher salts exactly these
      * keys and skips the in-query detection scan. Duplicates are
      * tolerated (the matcher dedups before the flag join). */
    knownHotKeys: Option[Seq[String]] = None,
    /** Same statistic as [[knownHotKeys]] but kept as a DataFrame end
      * to end (single `block_key` column) — e.g. a hot-key snapshot
      * table written at normalize-commit time ([[graft.pipeline.Pipeline]]).
      * Never touches the driver; takes precedence over knownHotKeys. */
    knownHotKeysDf: Option[DataFrame] = None,
    /** When > 0, pre-filter the RIGHT (corpus) side at its scan with a
      * Bloom filter built over the left side's block keys
      * ([[graft.blocking.BloomPregate]]), sized for this many distinct
      * left keys. Output is bit-identical (the exact join drops the
      * sketch's false positives); the win is shuffle bytes — corpus
      * rows whose block key cannot match never enter the exchange. Use
      * when the left batch is much smaller than the right corpus (the
      * per-ingest-batch production shape); leave 0 when both sides are
      * comparable (the sketch pass would just re-scan half the input
      * for little exclusion). */
    bloomPregateItems: Long = 0L,
    /** Which side the pregate THINS (the sketch is always built over
      * the other side's keys). "right" is the per-batch production
      * shape above; "left" is its mirror — a huge committed left
      * matched against a small right increment, the `old × new` leg of
      * [[Matcher.incremental]]. The sketch must be built
      * over the SMALL side: building it over the big side would pay a
      * full extra scan of exactly the rows the pregate exists to
      * avoid touching. */
    bloomPregateSide: String = "right",
    /** Both sides are already co-partitioned on the block key — e.g.
      * read from tables bucketed by `block_key` with equal bucket
      * counts ([[Matcher.writeBucketedByBlockKey]]). Skips the
      * matcher's explicit repartition AND salting (salting would
      * re-shuffle and defeat the point), so the block join runs with
      * ZERO exchanges: the snapshot paid the shuffle once at commit
      * time and every subsequent match over it rides for free. Hot
      * keys within a bucket are handled by the scorer's per-pair cost
      * only — prefer the salted path for corpora with pathological
      * blocks, the bucketed path for repeated matching over committed
      * snapshots. */
    coPartitioned: Boolean = false) {
  /** match.py:96-102 — 0..1 thresholds auto-scale to 0..100. */
  def thresholdScaled: Double = if (threshold <= 1.0) threshold * 100.0 else threshold
}

object MatchConfig {
  /** The shipped reference config (configs/match.yaml:1-21). */
  val reference: MatchConfig = MatchConfig(
    scorer = "token_set_ratio", threshold = 60, topk = 3,
    blockBy = "digits+prefix6", wText = 0.8, wDigits = 0.15, wGeo = 0.05)
}

/** The blocking + pairwise-scoring engine — Spark rebuild of the
  * reference's matcher (`match.py:88-260`). The per-block nested loop
  * (match.py:177-231) becomes ONE salted, skew-aware equi-join on the
  * derived `block_key`: the intra-block cross product *is* the equi-join
  * output, the right-side precompute (match.py:183-188) is free
  * (columns are computed once before the shuffle), and the matched-id
  * set bookkeeping (match.py:171,230-231) becomes two anti-joins.
  *
  * Scale design (100 TB / 10^12 turns):
  *   - the only shuffle is the equi-join on block_key (+ the top-k
  *     window, which reuses the same partitioning when keyed on
  *     left_id);
  *   - hot blocks (coarse prefixes) are handled by AQE skew-join
  *     splitting, plus optional deterministic salting
  *     (`saltBuckets` > 0): left rows get salt = pmod(hash(left_id), S),
  *     right rows are replicated S times, which preserves exact join
  *     semantics while splitting a hot key into S sub-keys;
  *   - scoring runs inside whole-stage codegen via the native
  *     [[graft.similarity.FuzzBinaryExpression]]s;
  *   - the cheap token-overlap pregate (match.py:198-199) is applied
  *     as a join post-filter *before* the expensive scorer.
  */
object Matcher {

  /** Match `left` against `right` with candidate generator `gen`:
    * (left_id, right_id, score), reference column order match.py:139,
    * top-k per left row. Text is assumed already normalized (the
    * reference lower-cases in match.py:149-152; callers use Normalizer
    * first). A lone [[CandidateGenerator.Block]] admits each pair once
    * and ranks with [[rankTopK]]; every other generator can repeat a
    * pair and ranks with [[rankTopKDistinct]]. */
  def run(
      gen: CandidateGenerator,
      left: DataFrame,
      right: DataFrame,
      cfg: MatchConfig,
      idCol: String = "id",
      textCol: String = "text"): DataFrame = {
    val scored = gen.scored(left, right, cfg, idCol, textCol)
    gen match {
      case _: CandidateGenerator.Block => rankTopK(scored, cfg.topk)
      case _ => rankTopKDistinct(scored, cfg.topk)
    }
  }

  /** Incremental re-match after an increment lands on either side —
    * the production shape for a 10^12-turn corpus where matching runs
    * per ingest batch: never re-score the old×old pair space, whose
    * top-k is already committed as the prior `matches` snapshot.
    *
    * Exactly equivalent to `run(gen, leftOld ∪ leftNew,
    * rightOld ∪ rightNew, cfg)` (property-tested in MatcherSpec for
    * every pairwise generator): because candidacy is a per-pair
    * property ([[PairwiseGenerator]]), the full candidate set splits
    * into old×old ∪ new×all ∪ old×new, and for the old×old part the
    * prior TOP-K is a sufficient summary — a pair ranked ≤ k in the
    * full result ranks ≤ k within any subset it belongs to (fewer
    * competitors), so every final winner from old×old is present in
    * the prior snapshot; scores are deterministic, so re-ranking the
    * union of the three score sets with the same (score desc,
    * right_id asc) order reproduces the full ranking. Cost scales with
    * the increment (|L_new|·blocked(R) + |L_old|·blocked(R_new)), not
    * the corpus, and the prior snapshot contributes a scan, not a join.
    * The position-dependent [[CandidateGenerator.SortedNeighborhood]]
    * has no such decomposition and does not type-check here.
    *
    * `priorMatches` must be the committed `run(gen, leftOld, rightOld,
    * cfg)` result (left_id, right_id, score) under the SAME generator
    * and config — a different threshold/scorer/blocking would make the
    * summary argument above unsound.
    *
    * Robust to a REPLAYED increment (rows of leftNew/rightNew already
    * present in the old side — the at-least-once delivery case): the
    * union then carries the same pair from two subspaces, and the
    * ranking dedups pair repeats before counting top-k slots — even
    * score-divergent repeats from an upserted payload collapse to one
    * slot (see [[rankTopKDistinct]]; zero extra shuffle).
    *
    * With `cfg.bloomPregateItems > 0` the block legs' pregate is
    * oriented PER LEG to match each leg's asymmetry — `new × all` thins
    * the corpus by a sketch of the increment's keys
    * (`bloomPregateSide = "right"`), while `old × new` flips to
    * `"left"` so the sketch is built over the small right increment and
    * thins the huge old left: both legs then scan-skip the committed
    * corpus rows whose block key the increment never mentions, which
    * is the dominant byte saving of incremental matching. LSH and
    * set-sim legs never read the setting. */
  def incremental(
      gen: PairwiseGenerator,
      leftOld: DataFrame,
      leftNew: DataFrame,
      rightOld: DataFrame,
      rightNew: DataFrame,
      priorMatches: DataFrame,
      cfg: MatchConfig,
      idCol: String = "id",
      textCol: String = "text"): DataFrame = {
    val newVsAll = gen.scored(leftNew, rightOld.unionByName(rightNew),
      cfg.copy(bloomPregateSide = "right"), idCol, textCol)
    val oldVsNew = gen.scored(leftOld, rightNew,
      cfg.copy(bloomPregateSide = "left"), idCol, textCol)
    rankTopKDistinct(
      priorMatches.select(col("left_id"), col("right_id"), col("score"))
        .unionByName(newVsAll)
        .unionByName(oldVsNew),
      cfg.topk)
  }

  /** The block-key generator's scoring stage
    * ([[CandidateGenerator.Block]]): every blocked candidate pair at or
    * above the threshold, as (left_id, right_id, score), not ranked. */
  def scoredPairs(
      left: DataFrame,
      right: DataFrame,
      cfg: MatchConfig,
      idCol: String = "id",
      textCol: String = "text",
      hasGeo: Boolean = false): DataFrame = {
    val scorer = FuzzFunctions.scorer(cfg.scorer)
    // token_set_ratio hot path: tokenize/sort/dedup once per ROW, score
    // pairs over the pre-sorted arrays (identical result, ~50× less
    // per-pair allocation; see Fuzz.tokenSetRatioSorted)
    val preTok = cfg.scorer.equalsIgnoreCase("token_set_ratio")

    // SLIM pre-shuffle projection: id, text, block key, geo. The heavy
    // derived columns (digit runs, sorted token set, pregate tokens) are
    // added by [[heavyCols]] AFTER the exchange — shuffling precomputed
    // arrays costs ~2-3× the bytes of the text they derive from, and on
    // the salt-replicated build side that made the shuffle write the
    // 32-core bottleneck (observed 8× executor-time inflation from
    // memory-pressure spills). Recomputing per shuffled row is a few µs.
    def prepped(df: DataFrame, side: String): DataFrame = {
      // coPartitioned inputs carry their stored (bucketed) block_key —
      // recomputing it would detach the column from the scan's bucket
      // metadata and Spark would reinsert the exchange we're eliding
      val withBk =
        if (cfg.coPartitioned && df.columns.contains("block_key")) df
        else df.withColumn("block_key", BlockKeys.blockKey(col(textCol), cfg.blockBy))
      withBk.select(
          Seq(col(idCol).as(s"${side}_id"), col(textCol).as(s"${side}_text"),
            col("block_key")) ++
            (if (hasGeo) Seq(col("lat").as(s"${side}_lat"), col("lon").as(s"${side}_lon"))
             else Nil): _*)
    }

    def heavyCols(df: DataFrame, side: String): DataFrame =
      heavyRowCols(df, side, cfg, preTok)

    require(cfg.bloomPregateItems <= 0 ||
      cfg.bloomPregateSide == "left" || cfg.bloomPregateSide == "right",
      s"bloomPregateSide must be 'left' or 'right': '${cfg.bloomPregateSide}'")
    // The bloom pregate thins the big side BEFORE any exchange (and
    // before salting's flag join / replication), so every downstream
    // stage — including the hot-key replication, the costliest bytes in
    // the plan — pays only for candidate rows. Applied post-scan it
    // also preserves bucket metadata, so it composes with coPartitioned.
    val lBase = prepped(left, "left")
    val rBase = prepped(right, "right")
    def pregated(big: DataFrame, small: DataFrame): DataFrame =
      big.filter(graft.blocking.BloomPregate.keyFilter(
        small.select(col("block_key")), col("block_key"), col("block_key"),
        cfg.bloomPregateItems))
    val (l0, r0) =
      if (cfg.bloomPregateItems <= 0) (lBase, rBase)
      else if (cfg.bloomPregateSide == "left") (pregated(lBase, rBase), rBase)
      else (lBase, pregated(rBase, lBase))

    // Salted, skew-aware equi-join on the block key, with EXPLICIT
    // repartitioning on the join key (north rule). The explicit
    // repartition matters at scale: a block join is *exploding* (output
    // rows >> input rows), so AQE's input-size-based partition
    // coalescing would otherwise funnel a few-MB shuffle into a handful
    // of tasks and serialize millions of scored pairs onto 2 cores —
    // observed exactly that on the sf0.1 bench before this fix.
    // (Honesty note, r06: because the repartition is user-specified,
    // AQE's skew-join splitting does NOT rebalance these exchanges —
    // salting is the skew defense here, which is why it is on by
    // default in every shipped config.)
    //
    // Salting (saltBuckets > 1) is TARGETED: block keys whose
    // candidate-pair volume |L_k|·|R_k| >= saltHotPairs are computed as
    // a (small) DataFrame and BROADCAST-JOINED onto both sides as an
    // `__is_hot` flag — no driver collect, no giant `isin` expression
    // tree; the hot-key detection aggregations are ordinary subplans of
    // the join. Only hot rows are split — left rows get salt =
    // pmod(hash(left_id), S), right rows are replicated S times. Cold
    // keys keep salt 0 and are never replicated, so the build-side
    // shuffle doesn't pay S× bytes for the (vast) cold tail. Exact same
    // join semantics as a blanket salt (tested). The hot set is small
    // by construction (it is the set of pathological blocks); the
    // `limit` caps the broadcast — any key beyond the cap simply stays
    // unsalted. With the r06 shuffled-hash hint an unsalted
    // pathological key builds one in-memory hash map cell (the left
    // rows of that key), where sort-merge would have spilled: if a
    // corpus can exceed the cap AND carries such keys, raise the cap
    // or pre-split upstream — the cap is sized three orders of
    // magnitude above any observed hot set precisely so this stays
    // a documented corner, not a default behavior.
    val parts = graft.util.Parallelism.explodingJoin(left.sparkSession)
    // coPartitioned: the sides arrived bucketed on block_key (equal
    // bucket counts), so the join needs no exchange at all — do NOT
    // repartition (it would re-shuffle what the snapshot already paid
    // for). Plan shape asserted in MatcherSpec.
    def coPartitionedJoin(): DataFrame =
      heavyCols(l0, "left").join(heavyCols(r0, "right"), Seq("block_key"), "inner")
    // r06: the scoring join is hinted shuffled-hash with the LEFT side
    // as build — the planner can't prove sizes here (derived subplans,
    // no stats) and falls back to sort-merge, paying two full sorts of
    // the candidate rows for a join whose output is consumed unsorted
    // (the top-k window re-partitions by left_id anyway). The left side
    // is the matcher's batch side (the smaller one in every production
    // shape — see bloomPregateSide), and after salting it is spread by
    // hash(left_id), so per-partition build maps stay small at scale.
    def plainJoin(): DataFrame =
      heavyCols(l0.repartition(parts, col("block_key")), "left")
        .hint("shuffle_hash")
        .join(heavyCols(r0.repartition(parts, col("block_key")), "right"),
          Seq("block_key"), "inner")
    def saltedJoin(hotKeys: DataFrame): DataFrame =
      targetedSaltedJoin(l0, r0, "block_key", hotKeys, cfg.saltBuckets, parts,
        heavyCols(_, "left"), heavyCols(_, "right"))
    val joined =
      if (cfg.coPartitioned) coPartitionedJoin()
      else if (cfg.saltBuckets > 1) {
        // duplicate hot keys would duplicate every row of that block on
        // BOTH sides of the left-join flag (wrong candidate pairs), so
        // every source is deduped before the broadcast
        val hotDf = (cfg.knownHotKeysDf, cfg.knownHotKeys) match {
          // same broadcast cap as the detection path: keys beyond it
          // simply stay unsalted (see the cap note above plainJoin for
          // the r06 shuffled-hash caveat). The capped subset is SORTED
          // first: the
          // hot-flag subplan feeds BOTH join sides, and if the broadcast
          // exchange is ever not reused (exchange reuse off, AQE replan)
          // an arbitrary-order limit could salt different key subsets on
          // each side and silently drop candidate pairs for keys hot on
          // one side only — sort+limit makes the subset deterministic,
          // so both evaluations agree.
          case (Some(df), _) =>
            df.select("block_key").distinct().sort("block_key").limit(1000000)
          case (None, Some(keys)) =>
            left.sparkSession
              .createDataset(keys.distinct)(org.apache.spark.sql.Encoders.STRING)
              .toDF("block_key")
          case _ =>
            // sort before limit for the same reason as the snapshot
            // branch above: the capped subset must be deterministic
            // across the two evaluations of the hot-flag subplan.
            // r06: ONE union-tagged aggregation instead of two per-side
            // aggregations + an equi-join — same hot set (a key missing
            // on either side has nl·nr = 0 and fails the threshold,
            // exactly as the inner join dropped it), one exchange and
            // two fewer AQE stages (guide §2.4).
            // null keys can never match in the equi-join; the old
            // inner-join formulation excluded them structurally, the
            // union-agg must do it explicitly or a null group could
            // burn a slot of the broadcast cap
            l0.select(col("block_key"), lit(1L).as("__l"))
              .unionAll(r0.select(col("block_key"), lit(0L).as("__l")))
              .filter(col("block_key").isNotNull)
              .groupBy("block_key")
              .agg(sum(col("__l")).as("nl"), sum(lit(1L) - col("__l")).as("nr"))
              .filter(col("nl") * col("nr") >= cfg.saltHotPairs)
              .select("block_key")
              .sort("block_key")
              .limit(1000000)
        }
        saltedJoin(hotDf)
      } else plainJoin()

    // Cheap pregate BEFORE the scorer (predicate order preserved).
    val gated =
      if (cfg.semanticStopwords.nonEmpty)
        joined.filter(arrays_overlap(col("left_toks"), col("right_toks")))
      else joined

    val textS = textScoreCol(cfg, preTok, scorer, hasGeo)
    val digitsS = Scores.digitsScoreArrays(col("left_digit_runs"), col("right_digit_runs"))
    val geoS: Column =
      if (hasGeo) {
        val d = Scores.haversineKm(col("left_lat"), col("left_lon"),
          col("right_lat"), col("right_lon"))
        when(col("left_lat").isNotNull && col("left_lon").isNotNull &&
          col("right_lat").isNotNull && col("right_lon").isNotNull,
          Scores.geoScoreKm(d, cfg.geoMaxKm))
      } else lit(null).cast("double")

    val conf = Scores.combine(textS, digitsS, geoS, cfg.wText, cfg.wDigits, cfg.wGeo)

    gated
      .withColumn("score", conf)
      .filter(col("score") >= cfg.thresholdScaled)
      .select(col("left_id"), col("right_id"), col("score"))
  }

  /** Top-k per left row (match.py:224-225) over a (left_id, right_id,
    * score) pair set. The reference sorts by conf desc with python's
    * stable sort; we add right_id asc as an explicit deterministic
    * tie-break. */
  def rankTopK(scored: DataFrame, topk: Int): DataFrame = {
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("score").desc, col("right_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topk)
      .select(col("left_id"), col("right_id"), col("score"))
  }


  /** [[rankTopK]] with a per-pair dedup folded into the ranking's
    * exchange: rows are first ordered by (right_id asc, score desc)
    * within each left_id partition, where ALL repeats of a
    * (left_id, right_id) pair are adjacent — whether byte-identical
    * (the at-least-once replay case) or score-divergent (an upsert
    * that changed a row's payload between the prior match and the
    * increment) — and one `lag` keeps only the best-scored occurrence
    * per pair. Ranking then runs under the usual (score desc,
    * right_id asc) order. Both windows share the left_id partitioning,
    * so the dedup costs one extra in-partition sort, never a
    * `dropDuplicates` shuffle of its own. For exact replays
    * (deterministic scores) this is provably identical to ranking the
    * distinct input; for upserts it guarantees each pair consumes at
    * most one top-k slot (which score survives is the caller's
    * contract — re-commit priorMatches if old scores must not win). */
  def rankTopKDistinct(scored: DataFrame, topk: Int): DataFrame = {
    val wDedup = Window.partitionBy(col("left_id"))
      .orderBy(col("right_id").asc, col("score").desc)
    val wRank = Window.partitionBy(col("left_id"))
      .orderBy(col("score").desc, col("right_id").asc)
    scored
      .withColumn("__rep", lag(col("right_id"), 1).over(wDedup) === col("right_id"))
      .filter(col("__rep").isNull || !col("__rep"))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= topk)
      .select(col("left_id"), col("right_id"), col("score"))
  }

  /** Targeted-salted equi-join, shared by the block join and the LSH
    * band join: `hotKeys` (one column named `key`, pre-deduped and
    * deterministic — sorted+capped by the caller) is broadcast as an
    * `__is_hot` flag onto both sides; left rows of hot keys get
    * salt = pmod(hash(left_id), S), right rows of hot keys are
    * replicated S ways, cold rows keep salt 0 unreplicated, and the
    * join runs on (key, salt). Exact same join semantics as unsalted
    * (equivalence-tested on both call sites). `decorateL/R` insert the
    * post-exchange per-row derivations after the explicit repartition
    * so the shuffle carries slim rows. */
  private def targetedSaltedJoin(
      l: DataFrame, r: DataFrame, key: String, hotKeys: DataFrame,
      saltBuckets: Int, parts: Int,
      decorateL: DataFrame => DataFrame,
      decorateR: DataFrame => DataFrame): DataFrame = {
    val hotFlag = broadcast(hotKeys.withColumn("__is_hot", lit(true)))
    val lSalt = decorateL(
      l.join(hotFlag, Seq(key), "left")
        .withColumn("salt",
          when(col("__is_hot"), pmod(hash(col("left_id")), lit(saltBuckets)))
            .otherwise(lit(0)))
        .drop("__is_hot")
        .repartition(parts, col(key), col("salt")))
    val rSalt = decorateR(
      r.join(hotFlag, Seq(key), "left")
        .withColumn("salt",
          explode(sequence(lit(0),
            when(col("__is_hot"), lit(saltBuckets - 1)).otherwise(lit(0)))))
        .drop("__is_hot")
        .repartition(parts, col(key), col("salt")))
    // shuffled-hash, left build — same rationale as plainJoin (r06)
    lSalt.hint("shuffle_hash").join(rSalt, Seq(key, "salt"), "inner").drop("salt")
  }

  /** The per-pair text scorer for this cfg (r06): the pre-tokenized
    * fast path for token_set_ratio; a THRESHOLD-BOUNDED banded DP for
    * lev_ratio (exact for every pair whose text score can still reach
    * the combined threshold, guaranteed-below-`minText` otherwise — and
    * since [[scoredPairs]] filters those out before anything
    * order-sensitive, output is bit-identical to the unbounded scorer;
    * equivalence is spec-tested); the registry scorer otherwise. */
  private def textScoreCol(cfg: MatchConfig, preTok: Boolean,
      scorer: (Column, Column) => Column, hasGeo: Boolean): Column =
    if (preTok)
      FuzzFunctions.token_set_ratio_pretok(col("left_tokset"), col("right_tokset"))
    else if (cfg.scorer.equalsIgnoreCase("lev_ratio"))
      FuzzFunctions.lev_ratio_bounded(col("left_text"), col("right_text"),
        minTextScore(cfg, hasGeo))
    else scorer(col("left_text"), col("right_text"))

  /** The minimum text score that can still reach `cfg.thresholdScaled`
    * after [[Scores.combine]]'s weighted mean: digits is always active
    * (0/100, never null) and capped at 100; geo contributes only when
    * `hasGeo` and both coordinates exist, capped at 100 — take the
    * minimum over both activation cases. 0.006 of slack stands in for
    * combine's 2-decimal HALF_UP rounding (round(x, 2) >= T requires
    * x >= T - 0.005). Any pair whose text score is below this value
    * cannot pass the threshold filter regardless of its other
    * components. */
  private def minTextScore(cfg: MatchConfig, hasGeo: Boolean): Double = {
    val t = cfg.thresholdScaled - 0.006
    val noGeo = ((cfg.wText + cfg.wDigits) * t - 100.0 * cfg.wDigits) / cfg.wText
    if (!hasGeo) noGeo
    else math.min(noGeo,
      ((cfg.wText + cfg.wDigits + cfg.wGeo) * t -
        100.0 * (cfg.wDigits + cfg.wGeo)) / cfg.wText)
  }

  /** Post-exchange per-row derivations (J5 right-side precompute,
    * generalized): computed once per shuffled ROW, never per PAIR —
    * shared by every candidate generator (block join, LSH band join)
    * so the derivation set cannot diverge between paths. */
  private def heavyRowCols(
      df: DataFrame, side: String, cfg: MatchConfig, preTok: Boolean): DataFrame = {
    var out = df.withColumn(s"${side}_digit_runs", Scores.digitRuns(col(s"${side}_text")))
    if (preTok)
      out = out.withColumn(s"${side}_tokset",
        FuzzFunctions.sortedTokenSet(col(s"${side}_text")))
    if (cfg.semanticStopwords.nonEmpty)
      // match.py:81-84: token set minus semantic stopwords
      out = out.withColumn(s"${side}_toks",
        array_except(
          array_distinct(filter(split(col(s"${side}_text"), "\\s+"), t => t =!= "")),
          lit(cfg.semanticStopwords.toArray)))
    out
  }

  /** Block on MinHash-LSH band keys instead of a derived prefix key —
    * the north-star's composite candidate generation ("token q-grams +
    * MinHash-LSH banding over concatenated turn text") as a first-class
    * matcher path. Where `blockBy` keys demand a shared prefix/digit
    * run, banding admits any pair whose k-shingle sets are similar
    * enough to collide in ≥ 1 of `bands` signature bands — recall is
    * tunable (more bands / narrower rows ⇒ higher recall) and
    * independent of WHERE the strings differ, which prefix keys are
    * blind to.
    *
    * Plan: per side, one relational signature pass
    * ([[Dedup.minhashSignatureRelational]] — map-side min-agg, shuffle
    * carries (id, seed, min) not shingles), band keys exploded (`bands`
    * rows per input row), explicit repartition on `band` (same
    * exploding-join AQE guard as the block join), heavy per-row columns
    * derived POST-exchange, equi-join on band. A pair sharing b > 1
    * bands is scored b times with identical (deterministic) scores and
    * collapsed to one top-k slot by [[rankTopKDistinct]] — band overlap
    * is small for near-dup pairs (usually 1), so re-scoring beats the
    * extra pair-dedup shuffle a pre-score `distinct` would cost.
    *
    * Oracle-checked end to end (`m_match_lsh` vs the
    * [[Dedup.minhashBandsSqlDuck]] mirror); rows shorter than
    * `shingleK` have no shingles and generate no candidates (mirrored).
    * Threshold applied; band-sharing repeats are NOT collapsed — the
    * ranking window does that. */
  def scoredPairsLshBlocked(
      left: DataFrame,
      right: DataFrame,
      cfg: MatchConfig,
      idCol: String = "id",
      textCol: String = "text",
      shingleK: Int = 5,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleMode: String = "char"): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    // "char": k-character shingles; "token": q-grams of whitespace
    // tokens (shingleK = q) — the north-star's "token q-grams" family
    val shingleOf: Column => Column = shingleMode match {
      case "char" => Dedup.shingles(_, shingleK)
      case "token" => Dedup.tokenShingles(_, shingleK)
      case other => throw new IllegalArgumentException(
        s"shingleMode must be 'char' or 'token': '$other'")
    }
    val parts = graft.util.Parallelism.explodingJoin(left.sparkSession)
    val scorer = FuzzFunctions.scorer(cfg.scorer)
    val preTok = cfg.scorer.equalsIgnoreCase("token_set_ratio")
    // slim pre-shuffle rows: (id, text, band) only; heavy per-row
    // columns are derived AFTER the exchange (same derivation set as
    // the block join, so cfg semantics — incl. the stopword pregate's
    // token column — cannot diverge)
    def bandedSlim(df: DataFrame, side: String): DataFrame = {
      val base = df.select(col(idCol).as("id"), col(textCol).as("t"))
        .withColumn("sh", shingleOf(col("t")))
        .filter(size(col("sh")) > 0)
      base.select(col("id"), col("t"))
        .join(Dedup.minhashSignatureRelational(
          base.select(col("id"), col("sh")), numHashes), "id")
        .withColumn("band", explode(Dedup.bandKeys(col("sig"), bands, numHashes)))
        .select(col("id").as(s"${side}_id"), col("t").as(s"${side}_text"), col("band"))
    }
    val lSlim = bandedSlim(left, "left")
    val rSlim = bandedSlim(right, "right")
    // Hot-BAND salting, the twin of the block join's targeted salting
    // (saltedJoin above): a band key shared by a boilerplate-heavy slab
    // of the corpus makes the band join quadratic in that slab — at
    // 10^12 turns the hot band, not the average one, decides the
    // stage's wall clock. Same knobs (saltBuckets/saltHotPairs), same
    // mechanics (detected hot set sorted+capped, broadcast as a flag,
    // left salted by hash(left_id), right replicated only for hot
    // bands), same exactness (tested: bit-identical output).
    val joined =
      if (cfg.saltBuckets > 1) {
        // one union-tagged aggregation, the block-key detection's twin
        // (r06 — same shape, same null/single-side exclusion)
        val hotBands = lSlim.select(col("band"), lit(1L).as("__l"))
          .unionAll(rSlim.select(col("band"), lit(0L).as("__l")))
          .filter(col("band").isNotNull)
          .groupBy("band")
          .agg(sum(col("__l")).as("nl"), sum(lit(1L) - col("__l")).as("nr"))
          .filter(col("nl") * col("nr") >= cfg.saltHotPairs)
          .select("band").sort("band").limit(1000000)
        targetedSaltedJoin(lSlim, rSlim, "band", hotBands, cfg.saltBuckets, parts,
          heavyRowCols(_, "left", cfg, preTok), heavyRowCols(_, "right", cfg, preTok))
      } else
        heavyRowCols(lSlim.repartition(parts, col("band")), "left", cfg, preTok)
          .join(heavyRowCols(rSlim.repartition(parts, col("band")), "right", cfg, preTok),
            Seq("band"), "inner")
    scoreThresholdTextPairs(joined, cfg, preTok, scorer)
  }

  /** The text-only scoring tail shared by the non-block generators
    * (LSH banding, sorted neighborhood): stopword pregate → scorer
    * (pre-tokenized hot path when applicable) → digits combine →
    * threshold → slim (left_id, right_id, score). Input rows carry
    * `left_/right_` id+text plus the [[heavyRowCols]] derivations.
    * One home so generator paths cannot diverge from the block join's
    * cfg semantics. */
  private def scoreThresholdTextPairs(
      joined: DataFrame, cfg: MatchConfig, preTok: Boolean,
      scorer: (Column, Column) => Column): DataFrame = {
    // same cheap pregate the block path applies before the scorer
    val gated =
      if (cfg.semanticStopwords.nonEmpty)
        joined.filter(arrays_overlap(col("left_toks"), col("right_toks")))
      else joined
    val textS = textScoreCol(cfg, preTok, scorer, hasGeo = false)
    val digitsS = Scores.digitsScoreArrays(col("left_digit_runs"), col("right_digit_runs"))
    val conf = Scores.combine(textS, digitsS, lit(null).cast("double"),
      cfg.wText, cfg.wDigits, cfg.wGeo)
    gated.withColumn("score", conf)
      .filter(col("score") >= cfg.thresholdScaled)
      .select(col("left_id"), col("right_id"), col("score"))
  }

  /** Sorted-neighborhood (merge/purge, Hernández–Stolfo) candidate
    * generation: both sides are unioned, totally ordered by
    * (text, side, id) — a deterministic unique key — and every
    * cross-side pair within `window` consecutive positions becomes a
    * candidate, scored by the shared text tail.
    *
    * The ER role: block keys and LSH bands are VALUE-driven — a
    * boilerplate-heavy corpus can pile millions of rows on one key,
    * which is why both paths carry targeted salting. The sorted
    * neighborhood is POSITION-driven: candidate volume is exactly
    * (window−1)·N no matter how skewed the values are, so it is the
    * generator whose cost is provably flat at 10^12 turns — the
    * complement, not a replacement (a true pair further than `window`
    * positions apart in sort order is missed; production merge/purge
    * runs multiple passes with different sort keys).
    *
    * Plan: global contiguous index without a SinglePartition window —
    * same triangular-offset numbering as [[matchIndex]]
    * (repartitionByRange + per-partition row_number + broadcast
    * offsets); neighbor pairing is an equi-join of each row's
    * (window−1) probe positions against the index, both sides
    * repartitioned on the probe key (uniform by construction — index
    * values are unique, so this join CANNOT be skewed and needs no
    * salting). One pass per sort key of
    * [[CandidateGenerator.SortedNeighborhood]]. */
  private[matching] def scoredPairsSortedNeighborhood(
      left: DataFrame,
      right: DataFrame,
      cfg: MatchConfig,
      idCol: String,
      textCol: String,
      window: Int,
      sortKey: Column => Column): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val parts = left.sparkSession.sessionState.conf.numShufflePartitions
    val scorer = FuzzFunctions.scorer(cfg.scorer)
    val preTok = cfg.scorer.equalsIgnoreCase("token_set_ratio")
    def side(df: DataFrame, tag: String) =
      df.select(col(idCol).as("id"), col(textCol).as("t"))
        .filter(col("t").isNotNull)
        .withColumn("side", lit(tag))
    val u = side(left, "L").unionByName(side(right, "R"))
      .withColumn("sk", sortKey(col("t")))
    // (sk, t, side, id) is a unique key — (t, side, id) already is, and
    // the derived sort key only prefixes it — so the rank is a
    // deterministic total order shared with the DuckDB oracle's
    // ORDER BY sk, t, side, id (both compare strings bytewise)
    val idx = rankByRange(u, Seq("sk", "t", "side", "id"), parts)
      .select(col("id"), col("t"), col("side"), col("rn"))
    // each row probes the window-1 positions AFTER it; rows near the
    // end probe past max(rn) and simply find no partner
    val probes = idx
      .withColumn("rn2", explode(sequence(col("rn") + 1, col("rn") + window - 1)))
      .select(col("id").as("a_id"), col("t").as("a_t"),
        col("side").as("a_side"), col("rn2"))
    val pairsRaw = probes.repartition(parts, col("rn2"))
      .join(idx.select(col("id").as("b_id"), col("t").as("b_t"),
          col("side").as("b_side"), col("rn").as("rn2"))
          .repartition(parts, col("rn2")),
        Seq("rn2"), "inner")
      .filter(col("a_side") =!= col("b_side"))
    val pairs = pairsRaw.select(
      when(col("a_side") === "L", col("a_id")).otherwise(col("b_id")).as("left_id"),
      when(col("a_side") === "L", col("a_t")).otherwise(col("b_t")).as("left_text"),
      when(col("a_side") === "L", col("b_id")).otherwise(col("a_id")).as("right_id"),
      when(col("a_side") === "L", col("b_t")).otherwise(col("a_t")).as("right_text"))
    scoreThresholdTextPairs(
      heavyRowCols(heavyRowCols(pairs, "left", cfg, preTok), "right", cfg, preTok),
      cfg, preTok, scorer)
  }

  /** Set-similarity candidate generation (J37): candidates = the EXACT
    * prefix-filtered token set-similarity join
    * ([[graft.blocking.SetSimJoin.simJoin]], J29) at `minSim`, then
    * the standard scorer/threshold/topk chain. The generator family's
    * missing recall guarantee: block keys anchor the string head, LSH
    * bands are PROBABILISTIC (a near-dup pair can miss every band),
    * sorted neighborhood is position-bound — this generator provably
    * admits EVERY pair whose token-set similarity clears `minSim`
    * (J29's zero-false-negative prefix bound), so the matcher's recall
    * floor is an explicit, tunable number.
    *
    * Plan shape: the J29 join prunes on COLD tokens by construction
    * (its candidate keys are each record's rarest tokens), so unlike
    * the block/band generators it needs no hot-key salting; the slim
    * (left_id, right_id) candidate set then picks up each side's text
    * and heavy per-row columns by id — two hash joins sized by the
    * GENERATOR's output, not the corpus — and the shared scoring tail
    * ([[scoreThresholdTextPairs]]) keeps cfg semantics identical to
    * every other path. */
  def scoredPairsSetSimBlocked(
      left: DataFrame,
      right: DataFrame,
      cfg: MatchConfig,
      idCol: String = "id",
      textCol: String = "text",
      minSim: Double = 0.5,
      sim: String = "jaccard"): DataFrame = {
    val preTok = cfg.scorer.equalsIgnoreCase("token_set_ratio")
    val scorer = FuzzFunctions.scorer(cfg.scorer)
    val cand = graft.blocking.SetSimJoin.simJoin(
      left, right, minSim, sim, idCol, textCol)
      .select("left_id", "right_id")
    val l = heavyRowCols(
      left.select(col(idCol).as("left_id"), col(textCol).as("left_text")),
      "left", cfg, preTok)
    val r = heavyRowCols(
      right.select(col(idCol).as("right_id"), col(textCol).as("right_text")),
      "right", cfg, preTok)
    scoreThresholdTextPairs(
      cand.join(l, "left_id").join(r, "right_id"), cfg, preTok, scorer)
  }

  /** Blocking-quality statistics — the ER-canonical evaluation of a
    * candidate GENERATOR (before any scoring): given the generator's
    * candidate pair set and a labeled truth set,
    *
    *   - reduction ratio    = 1 − |C| / (|L|·|R|)  (how much of the
    *     quadratic space the generator prunes),
    *   - pairs completeness = |C ∩ T| / |T|         (recall of true
    *     pairs into the candidate set — an upper bound on any
    *     downstream matcher's recall),
    *   - pairs quality      = |C ∩ T| / |C|         (precision of the
    *     candidate set — how much scoring work is wasted).
    *
    * One output row. Every input reduces to a single-row aggregate
    * before the cross joins, so the combine is broadcast-trivial at
    * any scale; the only real work is the distinct + semi-join sized
    * by the candidate set itself. */
  def blockingQuality(
      left: DataFrame,
      right: DataFrame,
      candidates: DataFrame,
      truth: DataFrame): DataFrame = {
    val cand = candidates.select(col("left_id"), col("right_id")).distinct()
    val t = truth.select(col("left_id"), col("right_id")).distinct()
    val nL = left.agg(count(lit(1)).as("n_left"))
    val nR = right.agg(count(lit(1)).as("n_right"))
    val nC = cand.agg(count(lit(1)).as("n_cand"))
    val nHit = t.join(cand, Seq("left_id", "right_id"), "inner")
      .agg(count(lit(1)).as("n_true_cand"))
    val nT = t.agg(count(lit(1)).as("n_true"))
    nL.crossJoin(nR).crossJoin(nC).crossJoin(nHit).crossJoin(nT)
      .select(
        col("n_cand"),
        round(lit(1.0) - col("n_cand").cast("double") /
          (col("n_left").cast("double") * col("n_right").cast("double")), 6)
          .as("reduction_ratio"),
        round(col("n_true_cand").cast("double") / col("n_true").cast("double"), 6)
          .as("pairs_completeness"),
        round(col("n_true_cand").cast("double") / col("n_cand").cast("double"), 6)
          .as("pairs_quality"))
  }

  /** Write a side as a parquet table BUCKETED (and sorted) by its
    * derived block key — the co-location contract for
    * [[MatchConfig.coPartitioned]]: two snapshots bucketed with the
    * same bucket count join on `block_key` with zero exchanges, so a
    * normalize snapshot pays the match shuffle ONCE at commit time and
    * every later match/re-match over it is shuffle-free. (The Spark
    * analogue of the Iceberg bucket-partitioned table the north star
    * names.) */
  def writeBucketedByBlockKey(
      df: DataFrame, cfg: MatchConfig, table: String, path: String,
      buckets: Int, textCol: String = "text"): Unit =
    df.withColumn("block_key", BlockKeys.blockKey(col(textCol), cfg.blockBy))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, "block_key").sortBy("block_key")
      .option("path", path)
      .saveAsTable(table)

  /** The hot-block-key statistic for [[MatchConfig.knownHotKeys]]: block
    * keys whose candidate-pair volume reaches `cfg.saltHotPairs`. In the
    * production pipeline this is computed once when a normalize snapshot
    * commits (TableIO per-partition metrics) and reused by every match
    * over that snapshot. */
  def hotBlockKeys(
      left: DataFrame, right: DataFrame, cfg: MatchConfig,
      textCol: String = "text"): Seq[String] =
    hotBlockKeysDf(left, right, cfg, textCol).limit(100001)
      .collect().map(_.getString(0)).toSeq

  /** The full block-key histogram: per key, row counts on both sides
    * and the candidate-pair volume the block join will emit. This is
    * the per-snapshot statistic the scale story runs on — committed
    * once at normalize time, it prices every subsequent match
    * (Σ pairs = exact scored-pair count), exposes skew before the job
    * runs, and its ≥saltHotPairs slice is the hot set the matcher
    * salts. One shuffle per side on the key, map-side partial aggs. */
  def blockHistogram(
      left: DataFrame, right: DataFrame, cfg: MatchConfig,
      textCol: String = "text"): DataFrame = {
    def keyed(df: DataFrame) = df
      .withColumn("block_key", BlockKeys.blockKey(col(textCol), cfg.blockBy))
      .groupBy("block_key").agg(count(lit(1)).as("n"))
    keyed(left).withColumnRenamed("n", "nl")
      .join(keyed(right).withColumnRenamed("n", "nr"), "block_key")
      .withColumn("pairs", col("nl") * col("nr"))
  }

  /** DataFrame form of [[hotBlockKeys]] — never touches the driver, so
    * the statistic can be written as a snapshot table at commit time
    * and fed back via [[MatchConfig.knownHotKeysDf]] with no collect
    * anywhere in the production path. */
  def hotBlockKeysDf(
      left: DataFrame, right: DataFrame, cfg: MatchConfig,
      textCol: String = "text"): DataFrame =
    blockHistogram(left, right, cfg, textCol)
      .filter(col("pairs") >= cfg.saltHotPairs)
      .select("block_key")

  /** Index mode (match.py:155-165): positional 1:1 zip of the first
    * min(|L|,|R|) rows under an explicit stable ordering, score 1.0.
    *
    * Scale-safe global numbering WITHOUT a single-partition window:
    * range-partition by the order key (partitions hold disjoint ordered
    * key ranges), number rows per partition with a partitioned window,
    * and add each partition's start offset (a tiny per-partition count
    * aggregate, broadcast back). Identical output to
    * `row_number() OVER (ORDER BY id)` — range partitions are ordered by
    * construction — but every stage is distributed. */
  def matchIndex(
      left: DataFrame,
      right: DataFrame,
      idCol: String = "id",
      orderCol: String = "id"): DataFrame = {
    val parts = left.sparkSession.sessionState.conf.numShufflePartitions
    def numbered(df: DataFrame, side: String) =
      rankByRange(df.select(col(idCol).as(s"${side}_id")),
        Seq(s"${side}_id"), parts)
        .select(col(s"${side}_id"), col("rn"))
    numbered(left, "left")
      .join(numbered(right, "right"), Seq("rn"), "inner")
      .select(col("left_id"), col("right_id"), lit(1.0).as("score"))
  }

  /** Deterministic distributed global numbering, free of
    * SinglePartition exchanges: range-partition by `keys` (which must
    * form a unique key), pin ONE boundary sample with an eager
    * localCheckpoint, then rank = broadcast triangular offsets over
    * the per-partition counts + in-partition row_number.
    *
    * The checkpoint is LOAD-BEARING for correctness, not a cache:
    * `repartitionByRange` SAMPLES its boundaries with a
    * per-RDD-instance seed, and any plan that consumes the partitioned
    * frame more than once (the counts branch and the rank branch here,
    * or a downstream self-join like the sorted-neighborhood pairing)
    * is rewritten by the analyzer's DeduplicateRelations with a
    * RE-INSTANTIATED `spark_partition_id()` — canonically distinct, so
    * exchange reuse never fires and each copy samples DIFFERENT
    * boundaries; the offsets then no longer describe the partitioning
    * the ranks were computed in. Caught live by the
    * sorted-neighborhood spec (same-input reruns returned 1463 vs 1330
    * pairs); latent in matchIndex for inputs past the sampler's
    * full-scan size (below it every copy samples every row and the
    * boundaries collide by luck). Checkpoint blocks are slim
    * (key + __pid) and stay pinned until the session ends or the
    * caller frees them ([[graft.util.CheckpointHygiene]]). */
  private def rankByRange(
      df: DataFrame, keys: Seq[String], parts: Int): DataFrame = {
    val p = df.repartitionByRange(parts, keys.map(col): _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    // partition start offsets via a triangular self-join over the
    // per-partition counts (#partitions rows) — not a global window,
    // so the whole plan is free of SinglePartition exchanges
    val counts = p.groupBy("__pid").agg(count(lit(1)).as("__cnt"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__cnt")), lit(0L)).as("__offset"))
    p.join(broadcast(offsets), "__pid")
      .withColumn("rn", col("__offset") + row_number().over(
        Window.partitionBy(col("__pid")).orderBy(keys.map(col): _*)))
      .drop("__pid", "__offset")
  }

  /** J13 `keep_best_per_right` — documented in
    * README-ARCHITECTURE.md:85,213 but ABSENT from the reference's
    * match.py (a doc/code divergence the survey flags); implemented here
    * as the natural second window: best single left per right. */
  def keepBestPerRight(matches: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("right_id"))
      .orderBy(col("score").desc, col("left_id").asc)
    matches.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** J17 enrichment preview (make_match_preview.py:15-33): matches
    * joined back to both sides' text. */
  def preview(
      matches: DataFrame,
      left: DataFrame,
      right: DataFrame,
      idCol: String = "id",
      textCol: String = "text"): DataFrame =
    matches
      .join(left.select(col(idCol).as("left_id"), col(textCol).as("left_text")), Seq("left_id"), "left")
      .join(right.select(col(idCol).as("right_id"), col(textCol).as("right_text")), Seq("right_id"), "left")
      .select(col("left_id"), col("left_text"), col("right_id"), col("right_text"), col("score"))

  /** J18 eval merge (eval.py:21-29): gold ⋈ pred on the left id, exact
    * agreement accuracy. */
  def evalMerge(gold: DataFrame, pred: DataFrame): DataFrame =
    gold.select(col("left_id"), col("right_id").as("gold_right"))
      .join(pred.select(col("left_id"), col("right_id").as("pred_right")), Seq("left_id"), "inner")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("gold_right") === col("pred_right"), 1L).otherwise(0L)).as("correct"))
      .withColumn("accuracy", col("correct").cast("double") / col("n"))

  /** Unmatched rows (match.py:233-260): left/right anti-joins against the
    * match output. Cache `matches` before calling both sides. */
  def unmatchedLeft(left: DataFrame, matches: DataFrame, idCol: String = "id"): DataFrame =
    left.join(matches.select(col("left_id").as(idCol)).distinct(), Seq(idCol), "left_anti")

  def unmatchedRight(right: DataFrame, matches: DataFrame, idCol: String = "id"): DataFrame =
    right.join(matches.select(col("right_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
}

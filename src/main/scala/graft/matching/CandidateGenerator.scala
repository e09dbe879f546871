package graft.matching

import org.apache.spark.sql.{Column, DataFrame}

/** How the matcher finds candidate pairs — the blocking stage of the
  * block → score → threshold → top-k pipeline, as a value. Every case
  * feeds the same scoring tail (scorer, digits/geo combine, threshold),
  * so generators differ only in WHICH pairs they admit; ranking and the
  * incremental fold live once in [[Matcher.run]] /
  * [[Matcher.incremental]].
  *
  * `scored` returns every admitted pair at or above the threshold as
  * (left_id, right_id, score), NOT ranked. A pair may repeat (shared
  * LSH bands, several union legs, several sorted-neighborhood passes)
  * with the same deterministic score; [[Matcher.rankTopKDistinct]]
  * collapses repeats to one top-k slot without a dedup shuffle. */
sealed trait CandidateGenerator {
  def scored(
      left: DataFrame,
      right: DataFrame,
      cfg: MatchConfig,
      idCol: String = "id",
      textCol: String = "text"): DataFrame
}

/** A generator whose candidacy is a property of the PAIR alone (its two
  * rows decide it, not the rest of the corpus). That is what makes the
  * old×old ∪ new×all ∪ old×new decomposition behind
  * [[Matcher.incremental]] exact, so only these generators are
  * accepted there. */
sealed trait PairwiseGenerator extends CandidateGenerator

object CandidateGenerator {

  /** Pairs sharing the derived block key (`cfg.blockBy`), salted and
    * Bloom-pregated per `cfg` ([[Matcher.scoredPairs]]). `hasGeo` adds
    * the haversine component to the combine. */
  final case class Block(hasGeo: Boolean = false) extends PairwiseGenerator {
    def scored(left: DataFrame, right: DataFrame, cfg: MatchConfig,
        idCol: String, textCol: String): DataFrame =
      Matcher.scoredPairs(left, right, cfg, idCol, textCol, hasGeo)
  }

  /** Pairs colliding in ≥ 1 MinHash-LSH band over k-shingles
    * ([[Matcher.scoredPairsLshBlocked]]). Text only; ignores the Bloom
    * pregate. */
  final case class Lsh(
      shingleK: Int = 5,
      numHashes: Int = 16,
      bands: Int = 4,
      shingleMode: String = "char") extends PairwiseGenerator {
    def scored(left: DataFrame, right: DataFrame, cfg: MatchConfig,
        idCol: String, textCol: String): DataFrame =
      Matcher.scoredPairsLshBlocked(left, right, cfg, idCol, textCol,
        shingleK, numHashes, bands, shingleMode)
  }

  /** Pairs whose token-set similarity reaches `minSim` — the exact
    * prefix-filtered join ([[Matcher.scoredPairsSetSimBlocked]]). Its
    * output is exactly {(l, r) : sim ≥ minSim}; global token
    * frequencies steer which candidates are verified, never which pairs
    * emerge, so candidacy is per-pair. Text only; ignores the Bloom
    * pregate. */
  final case class SetSim(minSim: Double = 0.5, sim: String = "jaccard")
      extends PairwiseGenerator {
    def scored(left: DataFrame, right: DataFrame, cfg: MatchConfig,
        idCol: String, textCol: String): DataFrame =
      Matcher.scoredPairsSetSimBlocked(left, right, cfg, idCol, textCol, minSim, sim)
  }

  /** Composite generation: the legs' candidate sets unioned (left to
    * right, `unionByName`), one ranking over all of them. The families
    * fail independently — prefix keys miss head edits, band misses are
    * probabilistic, sub-`minSim` overlap evades the set join — so the
    * union is the highest-recall candidate set. A union of per-pair
    * predicates is per-pair, hence still a [[PairwiseGenerator]]. */
  final case class Union(legs: PairwiseGenerator*) extends PairwiseGenerator {
    require(legs.nonEmpty, "Union needs at least one leg")
    def scored(left: DataFrame, right: DataFrame, cfg: MatchConfig,
        idCol: String, textCol: String): DataFrame =
      legs.map(_.scored(left, right, cfg, idCol, textCol)).reduce(_ unionByName _)
  }

  /** Sorted neighborhood (merge/purge): cross-side pairs within
    * `window` positions of one total order per sort key, one pass per
    * key, candidates unioned. Candidate volume is (window−1)·N per pass
    * whatever the value skew. Candidacy depends on a row's POSITION in
    * the full sort, so this is not a [[PairwiseGenerator]] and
    * [[Matcher.incremental]] does not accept it. */
  final case class SortedNeighborhood(
      window: Int = 10,
      sortKeys: Seq[Column => Column] = Seq(identity)) extends CandidateGenerator {
    require(sortKeys.nonEmpty, "at least one sort key required")
    def scored(left: DataFrame, right: DataFrame, cfg: MatchConfig,
        idCol: String, textCol: String): DataFrame =
      sortKeys.map(k =>
        Matcher.scoredPairsSortedNeighborhood(left, right, cfg, idCol, textCol, window, k))
        .reduce(_ unionByName _)
  }
}

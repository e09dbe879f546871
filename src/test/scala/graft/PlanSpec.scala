package graft

import graft.matching.{MatchConfig, Matcher}
import graft.matching.CandidateGenerator._
import graft.normalize.Normalizer
import graft.fixtures.AddressFixture
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the things SURVEY.md §4 promises Catalyst
  * gives us must actually show up in the plan — column pruning to the
  * parquet scan, single shuffle on the block key, whole-stage codegen
  * around the scorer, no cartesian products.
  */
class PlanSpec extends SparkSpec {

  // Execute first so AQE settles on the final plan (codegen annotations
  // only appear on the final adaptive plan).
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** Every `BroadcastNestedLoopJoin` TREE line of a formatted plan with
    * the output list of its build-side child, read from that child's
    * `(N)` detail block (`Output [k]: [...]`, or `Input` for operators
    * that print only their input). The build side is the second child
    * for BuildRight, the first for BuildLeft; a node's children are the
    * following tree lines whose branch marker (`+-` / `:-`) sits 3
    * columns right of its own. */
  private def bnljBuildOutputs(p: String): Seq[(String, Option[String])] = {
    case class Node(line: String, col: Int, id: Int)
    val tree = p.linesIterator.filterNot(_.startsWith("(")).flatMap { l =>
      // AQE query stages append ", Statistics(...)" after the id
      """ \((\d+)\)(, Statistics\(.*\))?$""".r.findFirstMatchIn(l).map { m =>
        val name = l.indexWhere(_.isLetter)
        Node(l.trim, l.lastIndexWhere(c => c == '+' || c == ':', name), m.group(1).toInt)
      }
    }.toVector
    val details = p.split("\\n(?=\\(\\d+\\) )").flatMap { sec =>
      """^\((\d+)\) """.r.findFirstMatchIn(sec).map(_.group(1).toInt -> sec)
    }.toMap
    def outputOf(id: Int): Option[String] = details.get(id).flatMap(
      _.linesIterator.find(l => l.startsWith("Output [") || l.startsWith("Input ["))
        .map(l => l.drop(l.indexOf(':') + 2)))
    tree.zipWithIndex.collect { case (n, i) if n.line.contains("BroadcastNestedLoopJoin") =>
      val kids = tree.drop(i + 1).takeWhile(_.col > n.col).filter(_.col == n.col + 3)
      val build = if (n.line.contains("BuildLeft")) kids.headOption else kids.lastOption
      n.line -> build.flatMap(b => outputOf(b.id))
    }
  }

  test("address match: scan pruned to c_custkey; no cartesian; scorer in codegen") {
    val m = Matcher.run(Block(hasGeo = true),
      SparkEntry.addrNorm(AddressFixture.left(spark, sf0001)),
      SparkEntry.addrNorm(AddressFixture.rightAll(spark, sf0001)),
      MatchConfig(scorer = "lev_ratio", threshold = 75, topk = 3,
        blockBy = "digits+prefix6", wDigits = 0.15, wGeo = 0.05),
      idCol = "id", textCol = "address_norm")
    val p = plan(m)
    // column pruning: the parquet scan must read only c_custkey
    assert(p.contains("ReadSchema: struct<c_custkey:bigint>"), s"scan not pruned:\n$p")
    assert(!p.contains("CartesianProduct"), "cartesian product in match plan")
    assert(p.contains("codegen id"), "no codegen spans")
    // exactly one equi-join on block_key feeding the scoring projection
    assert(p.contains("block_key"), "join not keyed on block_key")
  }

  test("transcript match plan: single block-key shuffle join, window on left_id") {
    val m = SparkEntry.matchJw(spark, sf0001)
    val p = plan(m)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("codegen id"))
    // topk window partitions by left_id (reuses hash partitioning family)
    assert(p.contains("row_number"), "missing topk window")
  }

  test("broadcast picked for the small ANN query side") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val topk = graft.ann.SimilaritySearch.bruteTopK(
      e, e.filter(col("vec_id") % 100 === 0), k = 5)
    val p = plan(topk)
    assert(p.contains("Broadcast"), s"ANN query side not broadcast:\n$p")
  }

  test("matchIndex: distributed numbering, no SinglePartition exchange") {
    val m = Matcher.matchIndex(
      AddressFixture.left(spark, sf0001),
      AddressFixture.right(spark, sf0001, 1))
    val p = plan(m)
    assert(!p.contains("SinglePartition"),
      s"matchIndex funnels rows through one partition:\n$p")
  }

  test("block histogram: map-side partial aggs, one shuffle per side, no extra join exchange") {
    val conv = SparkEntry.convNorm(spark, sf0001)
    val h = Matcher.blockHistogram(
      conv.filter(col("variant") === 0), conv.filter(col("variant") > 0),
      MatchConfig.reference, textCol = "text_norm")
    val p = plan(h)
    assert(!p.contains("CartesianProduct") && !p.contains("SinglePartition"),
      s"histogram plan degenerate:\n$p")
    // both aggregations partial (map-side combine before the exchange)
    assert(p.contains("partial_count") || p.contains("Partial"),
      s"no partial aggregation:\n$p")
    // the join of the two aggregated sides must reuse their block_key
    // hash partitioning: exactly 2 data exchanges (one per side), none
    // introduced by the join itself (broadcast of a side is also fine)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"join added an exchange ($exchanges):\n$p")
  }

  test("exact quantiles: partial percentile agg, no row explosion") {
    val q = graft.eda.Profiler.quantiles(
      spark.read.parquet(s"$sf0001/documents.parquet"),
      col("n_chars"), Seq(0.25, 0.5, 0.75, 0.95))
    val p = plan(q)
    // the sort-based percentile must aggregate map-side first: the
    // shuffle carries one partial state per partition, not the rows
    assert(p.contains("partial_percentile") || p.contains("Partial"),
      s"percentile not partially aggregated:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bloom pregate plan: subquery sketch with partial agg, might_contain before the exchange") {
    val m = Matcher.run(Block(hasGeo = true),
      SparkEntry.addrNorm(AddressFixture.left(spark, sf0001)),
      SparkEntry.addrNorm(AddressFixture.rightAll(spark, sf0001)),
      MatchConfig(scorer = "lev_ratio", threshold = 75, topk = 3,
        blockBy = "digits+prefix6", wDigits = 0.15, wGeo = 0.05,
        bloomPregateItems = 4096L),
      idCol = "id", textCol = "address_norm")
    val p = plan(m)
    // the sketch reaches the corpus filter as a scalar subquery (no
    // driver-side key set, no isin literal tree)
    assert(p.contains("might_contain"), s"no bloom filter in plan:\n$p")
    assert(p.contains("Subquery"), s"bloom not fed via subquery:\n$p")
    assert(!p.contains(" IN ("), "pregate degenerated to isin literals")
    // the sketch aggregate merges map-side: the exchange between the
    // two halves carries one sketch per partition, never the key rows
    assert(p.contains("partial_bloom_filter_agg") || p.contains("Partial"),
      s"bloom aggregate not partial:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("LSH-blocked match plan: no cartesian, no shingle arrays through the band shuffle") {
    val conv = SparkEntry.convNorm(spark, sf0001)
    val m = Matcher.run(Lsh(),
      conv.filter(col("variant") === 0),
      conv.filter(col("variant") > 0),
      MatchConfig.reference.copy(scorer = "jaro_winkler"),
      idCol = "conv_id", textCol = "text_norm")
    val p = plan(m)
    assert(!p.contains("CartesianProduct"), "banding degenerated to a cartesian")
    // the signature stage is relational: the shuffle after the shingle
    // explode carries (id, seed, min-hash) partial aggregates, so a
    // partial min agg must exist and no exchange row schema may carry
    // the shingle array itself
    assert(p.contains("partial_min") || p.contains("Partial"),
      s"signature min-agg not map-side partial:\n$p")
    // formatted explain puts each operator's attributes in its own
    // detail section ("(N) Exchange" header, then Input/Arguments
    // lines) — scan those sections, not the bare tree lines (which
    // never carry attribute names)
    val sections = p.split("\\n(?=\\(\\d+\\) )")
    val exchanges = sections.filter(
      _.linesIterator.nextOption().exists(h => h.matches("""\(\d+\) .*Exchange.*""")))
    assert(exchanges.nonEmpty, s"no Exchange detail sections found:\n$p")
    val offending = exchanges.filter(_.contains("sh#"))
    assert(offending.isEmpty, s"shingle array shuffled:\n${offending.mkString("\n---\n")}")
  }

  test("soft-tfidf enrich plan: id-keyed joins only, no cartesian") {
    val recs = SparkEntry.addrNorm(AddressFixture.left(spark, sf0001))
      .unionAll(SparkEntry.addrNorm(AddressFixture.rightAll(spark, sf0001)))
      .select(col("id"), col("address_norm").as("text"))
    val pairs = SparkEntry.addrMatchLev(spark, sf0001).localCheckpoint(true)
    val w = graft.similarity.SoftTfIdf.weights(recs)
    val p = plan(graft.similarity.SoftTfIdf.enrich(pairs, w))
    assert(!p.contains("CartesianProduct"),
      "soft-tfidf candidate explode degenerated to a cartesian")
    // the token×token fan-out must come from equi-joins on the pair
    // ids, never a nested-loop over the corpus. The ONE allowed
    // nested-loop shape is the broadcast 1-row corpus-count join that
    // makes the weights build lazy (r06, the AssignmentDrift
    // metric-assembly pattern): EVERY BNLJ tree line must be a
    // `Cross BuildRight` whose build (last) child's `(N)` detail block
    // outputs exactly the `__n_docs` count — a lost join key over the
    // corpus would instead surface as a nested loop building anything
    // else, or as a CartesianProduct.
    val bnlj = bnljBuildOutputs(p)
    info(s"${bnlj.size} nested-loop join tree lines")
    assert(bnlj.forall { case (line, out) =>
      line.contains("Cross BuildRight") && out.exists(_.matches("""\[__n_docs#\d+L?\]"""))
    }, s"nested-loop join beyond the 1-row count in the enrich plan:\n" +
      bnlj.mkString("\n") + s"\n$p")
    graft.util.CheckpointHygiene.free(pairs)
  }

  test("assignment drift plan: no cartesian beyond the 1-row metric assembly") {
    val prior = SparkEntry.addrClusters(spark, sf0001).localCheckpoint(true)
    val p = plan(graft.cluster.AssignmentDrift.drift(prior, prior))
    // the only nested-loop joins allowed are the single-row aggregate
    // cross-joins that assemble the metrics row; the id-keyed
    // full-outer join and the cell aggregations must be exchanges
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Exchange"), "drift plan lost its id-keyed shuffle")
    graft.util.CheckpointHygiene.free(prior)
  }

  test("salted match plan: hot keys broadcast-joined, no isin literals") {
    val conv = SparkEntry.convNorm(spark, sf0001)
    val m = Matcher.run(Block(),
      conv.filter(col("variant") === 0),
      conv.filter(col("variant") > 0),
      MatchConfig.reference.copy(saltBuckets = 4, saltHotPairs = 16L),
      idCol = "conv_id", textCol = "text_norm")
    val p = plan(m)
    assert(p.contains("Broadcast"), s"hot-key flag not broadcast:\n$p")
    assert(!p.toLowerCase.contains(" in ("), "giant isin literal in plan")
  }
}

package graft.matching

import graft.SparkSpec
import graft.cluster.ConnectedComponents
import graft.fixtures.AddressFixture
import graft.normalize.Normalizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import CandidateGenerator._

/** E2E acceptance: the reference flow (normalize → block → match) on the
  * labeled address fixture reaches pairwise F1 >= 0.99 at the shared
  * blocking key (BASELINE.json `metric`), and transitive clustering
  * recovers the latent entities exactly.
  */
class MatcherSpec extends SparkSpec {

  private def norm(df: DataFrame): DataFrame =
    df.withColumn("address_norm", Normalizer.normalizeAddress(col("address")))

  /** Reference code defaults (match.py:96-115): token_set_ratio scorer,
    * threshold 80, topk 1 — with digits+geo confidence active. */
  private val cfg = MatchConfig(
    scorer = "token_set_ratio", threshold = 80, topk = 1,
    blockBy = "digits+prefix6", wText = 0.8, wDigits = 0.15, wGeo = 0.05)

  test("pairwise F1 >= 0.99 on labeled pairs at the shared blocking key") {
    val left = norm(AddressFixture.left(spark, sf001))
    val right = norm(AddressFixture.right(spark, sf001, 1))
    val m = Matcher.run(Block(hasGeo = true), left, right, cfg,
      idCol = "id", textCol = "address_norm").cache()
    val n = left.count()
    val tp = m.filter(col("right_id") === concat(lit("r"), col("left_id"))).count()
    val fp = m.count() - tp
    val fn = n - tp
    val f1 = 2.0 * tp / (2.0 * tp + fp + fn)
    info(s"n=$n tp=$tp fp=$fp fn=$fn F1=$f1")
    assert(f1 >= 0.99, s"pairwise F1 $f1 below 0.99 (tp=$tp fp=$fp fn=$fn)")
  }

  test("bounded lev_ratio path equals the unbounded scorer end to end") {
    // r06: cfg.scorer == "lev_ratio" routes through the threshold-banded
    // BoundedLevRatio expression; this replays the match with the plain
    // unbounded registry formula through an independent mini-matcher
    // (block join + combine + threshold + rankTopK) and demands
    // bit-identical (left_id, right_id, score) rows.
    import graft.blocking.BlockKeys
    import graft.similarity.{FuzzFunctions, Scores}
    val aCfg = MatchConfig(scorer = "lev_ratio", threshold = 75, topk = 3,
      blockBy = "digits+prefix6", wDigits = 0.15, wGeo = 0.05, geoMaxKm = 1.5)
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val got = Matcher.run(Block(hasGeo = true), left, right, aCfg,
      idCol = "id", textCol = "address_norm")
    val bk = (c: org.apache.spark.sql.Column) => BlockKeys.blockKey(c, aCfg.blockBy)
    val joined = left.select(col("id").as("left_id"), col("address_norm").as("lt"),
        col("lat").as("llat"), col("lon").as("llon"), bk(col("address_norm")).as("bkey"))
      .join(right.select(col("id").as("right_id"), col("address_norm").as("rt"),
        col("lat").as("rlat"), col("lon").as("rlon"), bk(col("address_norm")).as("bkey")),
        Seq("bkey"))
    val textS = FuzzFunctions.scorers("lev_ratio")(col("lt"), col("rt"))
    val digitsS = Scores.digitsScore(col("lt"), col("rt"))
    val geoS = when(col("llat").isNotNull && col("llon").isNotNull &&
      col("rlat").isNotNull && col("rlon").isNotNull,
      Scores.geoScoreKm(
        Scores.haversineKm(col("llat"), col("llon"), col("rlat"), col("rlon")),
        aCfg.geoMaxKm))
    val expected = Matcher.rankTopK(
      joined.withColumn("score",
          Scores.combine(textS, digitsS, geoS, aCfg.wText, aCfg.wDigits, aCfg.wGeo))
        .filter(col("score") >= aCfg.thresholdScaled)
        .select(col("left_id"), col("right_id"), col("score")),
      aCfg.topk)
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0)
    assert(got.count() == expected.count() && got.count() > 0)
  }

  test("threshold monotonicity: higher threshold never adds matches") {
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val lo = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(threshold = 60, topk = 5),
      idCol = "id", textCol = "address_norm")
    val hi = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(threshold = 90, topk = 5),
      idCol = "id", textCol = "address_norm")
    assert(hi.join(lo, Seq("left_id", "right_id"), "left_anti").count() == 0)
  }

  test("salting preserves exact match semantics") {
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val plain = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(topk = 3),
      idCol = "id", textCol = "address_norm")
    // saltHotPairs = 1 forces EVERY key hot -> full replication path
    val salted = Matcher.run(Block(hasGeo = true), left, right,
      cfg.copy(topk = 3, saltBuckets = 8, saltHotPairs = 1L),
      idCol = "id", textCol = "address_norm")
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
    // default threshold: hot-key detection finds no hot keys on this
    // small fixture and the join degenerates to the plain path — still
    // exactly the same output
    val adaptive = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(topk = 3, saltBuckets = 8),
      idCol = "id", textCol = "address_norm")
    assert(plain.exceptAll(adaptive).count() == 0 && adaptive.exceptAll(plain).count() == 0)
  }

  test("bloom pregate preserves exact match semantics (alone and composed with salting)") {
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val plain = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(topk = 3),
      idCol = "id", textCol = "address_norm")
    val bloomed = Matcher.run(Block(hasGeo = true), left, right,
      cfg.copy(topk = 3, bloomPregateItems = 4096L),
      idCol = "id", textCol = "address_norm")
    assert(plain.exceptAll(bloomed).count() == 0 && bloomed.exceptAll(plain).count() == 0)
    val boths = Matcher.run(Block(hasGeo = true), left, right,
      cfg.copy(topk = 3, bloomPregateItems = 4096L, saltBuckets = 8, saltHotPairs = 1L),
      idCol = "id", textCol = "address_norm")
    assert(plain.exceptAll(boths).count() == 0 && boths.exceptAll(plain).count() == 0)
    // mirrored orientation (left thinned by a sketch of right's keys —
    // the old×new incremental leg) must be just as invisible
    val mirrored = Matcher.run(Block(hasGeo = true), left, right,
      cfg.copy(topk = 3, bloomPregateItems = 4096L, bloomPregateSide = "left"),
      idCol = "id", textCol = "address_norm")
    assert(plain.exceptAll(mirrored).count() == 0 && mirrored.exceptAll(plain).count() == 0)
  }

  test("bloom keyFilter: no false negatives, misses mostly excluded") {
    import spark.implicits._
    val source = (0 until 10).map(i => s"k$i").toDF("key")
    val target = ((0 until 10).map(i => s"k$i") ++
      (0 until 1000).map(i => s"miss$i")).toDF("key")
    val kept = target.filter(graft.blocking.BloomPregate.keyFilter(
      source, col("key"), col("key"), expectedItems = 10)).as[String].collect().toSet
    // every true key admitted — the exactness half of the contract
    assert((0 until 10).forall(i => kept.contains(s"k$i")))
    // and the filter actually filters: at fpp=3% the ~1000 misses admit
    // ~30 false positives; 150 is a 5x margin against unlucky hashing
    assert(kept.size <= 10 + 150, s"bloom admitted ${kept.size - 10} of 1000 misses")
  }

  test("LSH-banded blocking: recall comparable to prefix blocking; shared pairs score identically") {
    val conv = graft.SparkEntry.convNorm(spark, sf0001).cache()
    val left = conv.filter(col("variant") === 0)
    val right = conv.filter(col("variant") > 0)
    val c = MatchConfig.reference.copy(scorer = "jaro_winkler")
    val lsh = Matcher.run(Lsh(), left, right, c,
      idCol = "conv_id", textCol = "text_norm").cache()
    val blocked = Matcher.run(Block(), left, right, c,
      idCol = "conv_id", textCol = "text_norm").cache()
    def ent(x: org.apache.spark.sql.Column) = regexp_extract(x, "c([0-9]+)_", 1)
    val tpLsh = lsh.filter(ent(col("left_id")) === ent(col("right_id"))).count()
    val tpBlocked = blocked.filter(ent(col("left_id")) === ent(col("right_id"))).count()
    info(s"lsh: ${lsh.count()} pairs ($tpLsh true); blocked: ${blocked.count()} pairs ($tpBlocked true)")
    // banding's recall is not anchored to shared prefixes, so on the
    // near-dup fixture it must find at least ~all the true pairs the
    // prefix key finds (measured: 993 vs 984 — it finds MORE)
    assert(tpLsh >= tpBlocked * 95L / 100L,
      s"LSH true pairs $tpLsh < 95% of blocked $tpBlocked")
    // both paths share the scorer/combine arithmetic: any pair both
    // emit must carry the identical score
    val shared = lsh.join(
      blocked.withColumnRenamed("score", "score_b"), Seq("left_id", "right_id"))
    assert(shared.filter(col("score") =!= col("score_b")).count() == 0)
  }

  test("LSH band salting preserves exact match semantics") {
    val conv = graft.SparkEntry.convNorm(spark, sf0001).cache()
    val left = conv.filter(col("variant") === 0)
    val right = conv.filter(col("variant") > 0)
    val c = MatchConfig.reference.copy(scorer = "jaro_winkler")
    val plain = Matcher.run(Lsh(), left, right, c,
      idCol = "conv_id", textCol = "text_norm")
    // saltHotPairs = 1 forces EVERY band hot -> full replication path
    val salted = Matcher.run(Lsh(), left, right,
      c.copy(saltBuckets = 8, saltHotPairs = 1L),
      idCol = "conv_id", textCol = "text_norm")
    assert(plain.exceptAll(salted).count() == 0 && salted.exceptAll(plain).count() == 0)
    // default threshold: no band is hot on this fixture -> degenerates
    // to the plain path, still identical
    val adaptive = Matcher.run(Lsh(), left, right,
      c.copy(saltBuckets = 8),
      idCol = "conv_id", textCol = "text_norm")
    assert(plain.exceptAll(adaptive).count() == 0 && adaptive.exceptAll(plain).count() == 0)
  }

  test("sorted neighborhood: candidates monotone in window; no SinglePartition") {
    val conv = graft.SparkEntry.convNorm(spark, sf0001).cache()
    val left = conv.filter(col("variant") === 0)
    val right = conv.filter(col("variant") > 0)
    val c = MatchConfig.reference.copy(scorer = "jaro_winkler")
    val s5 = SortedNeighborhood(5).scored(left, right, c, "conv_id", "text_norm")
    val s20 = SortedNeighborhood(20).scored(left, right, c, "conv_id", "text_norm")
    // a pair within 4 positions is within 19 positions: strictly wider net
    assert(s5.exceptAll(s20).count() == 0)
    assert(s5.count() < s20.count())
    // rerun-equality: the global numbering must be deterministic — this
    // is the regression guard for the rankByRange boundary-sample pin
    // (unpinned, two copies of the index sample different range
    // boundaries and the same call returns different pair sets)
    val s5b = SortedNeighborhood(5).scored(left, right, c, "conv_id", "text_norm")
    assert(s5.exceptAll(s5b).count() == 0 && s5b.exceptAll(s5).count() == 0)
    // the global index must come from the triangular-offset numbering,
    // never a SinglePartition window (the matchIndex discipline)
    val ranked = Matcher.run(SortedNeighborhood(),
      left, right, c, "conv_id", "text_norm")
    assert(!ranked.queryExecution.executedPlan.toString.contains("SinglePartition"))
    assert(ranked.count() > 0)
    // multi-pass: forward ∪ reversed candidates strictly widen the
    // single-pass net (scored sets, pre-ranking)
    val multiPass = SortedNeighborhood(5,
      Seq(identity, (x: org.apache.spark.sql.Column) => reverse(x)))
    val mp = multiPass.scored(left, right, c, "conv_id", "text_norm")
    assert(s5.exceptAll(mp).count() == 0)
    val mpRanked = Matcher.run(multiPass, left, right, c,
      idCol = "conv_id", textCol = "text_norm")
    assert(mpRanked.count() >= 0)
  }

  test("composite blocking: true-pair coverage >= each generator; every pair from the union") {
    val conv = graft.SparkEntry.convNorm(spark, sf0001).cache()
    val left = conv.filter(col("variant") === 0)
    val right = conv.filter(col("variant") > 0)
    val c = MatchConfig.reference.copy(scorer = "jaro_winkler")
    def ent(x: org.apache.spark.sql.Column) = regexp_extract(x, "c([0-9]+)_", 1)
    def tp(df: DataFrame) = df.filter(ent(col("left_id")) === ent(col("right_id"))).count()
    val block = Matcher.run(Block(), left, right, c, idCol = "conv_id", textCol = "text_norm")
    val lsh = Matcher.run(Lsh(), left, right, c, idCol = "conv_id", textCol = "text_norm")
    val comp = Matcher.run(Union(Block(), Lsh()), left, right, c,
      idCol = "conv_id", textCol = "text_norm").cache()
    val (tpB, tpL, tpC) = (tp(block), tp(lsh), tp(comp))
    info(s"true pairs: block=$tpB lsh=$tpL composite=$tpC")
    // NOT an invariant — a higher-scoring false pair from one generator
    // can displace a true pair from another's top-k — but on this
    // pinned fixture + config the union strictly helps (measured 995 vs
    // 984/993); a failure here means the generators or scoring changed
    assert(tpC >= tpB && tpC >= tpL, s"composite $tpC lost pairs vs $tpB/$tpL")
    // and emits nothing either generator's scored set didn't propose
    val unionScored = Matcher.scoredPairs(left, right, c,
        idCol = "conv_id", textCol = "text_norm", hasGeo = false)
      .unionByName(Matcher.scoredPairsLshBlocked(left, right, c,
        idCol = "conv_id", textCol = "text_norm"))
      .select("left_id", "right_id").distinct()
    assert(comp.join(unionScored, Seq("left_id", "right_id"), "left_anti").count() == 0)
  }

  /** One "incremental equals full" check per pairwise generator: the
    * fold of prior(old×old) + new×all + old×new must equal the full
    * match for a fresh increment, a REPLAYED increment (old right rows
    * re-delivered — at-least-once delivery) and an EMPTY increment
    * (re-ranking the prior alone is a no-op), under every listed
    * config. The Bloom config exercises the per-leg pregate flip inside
    * [[Matcher.incremental]] (right on new×all, left on old×new); the
    * salted config forces every block key hot (full replication). */
  private case class IncrCase(
      gen: PairwiseGenerator, addresses: Boolean, cfgs: Seq[MatchConfig])

  private val jw = MatchConfig.reference.copy(scorer = "jaro_winkler")
  private def byGen(name: String) = s"incremental equals full: $name"
  // the two Block rows keep their long-standing test names
  private val incrCases = Seq(
    "incremental match equals full match (salted; and empty increment = prior)" ->
      IncrCase(Block(hasGeo = true), addresses = true,
        Seq(cfg.copy(topk = 3, saltBuckets = 8, saltHotPairs = 1L))),
    "incremental match with bloom pregate equals full match" ->
      IncrCase(Block(hasGeo = true), addresses = true,
        Seq(cfg.copy(topk = 3, bloomPregateItems = 4096L))),
    byGen("Lsh") -> IncrCase(Lsh(), addresses = false, Seq(jw)),
    byGen("SetSim") -> IncrCase(SetSim(), addresses = false, Seq(jw)),
    byGen("Union(Block, Lsh)") -> IncrCase(Union(Block(), Lsh()), addresses = false, Seq(jw)),
    byGen("Union(Block, Lsh, SetSim)") -> IncrCase(Union(Block(), Lsh(), SetSim()),
      addresses = false, Seq(jw)))

  for ((name, ic) <- incrCases) test(name) {
    // old/new split by entity-number parity
    val (left, right, idCol, textCol, entity) =
      if (ic.addresses)
        (norm(AddressFixture.left(spark, sf0001)),
          norm(AddressFixture.rightAll(spark, sf0001)), "id", "address_norm", "([0-9]+)")
      else {
        val conv = graft.SparkEntry.convNorm(spark, sf0001).cache()
        (conv.filter(col("variant") === 0), conv.filter(col("variant") > 0),
          "conv_id", "text_norm", "c([0-9]+)_")
      }
    val isOld = expr(s"CAST(regexp_extract($idCol, '$entity', 1) AS BIGINT) % 2 = 0")
    // each side evaluated once; equal as multisets of rows
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toString).sorted
    for (c <- ic.cfgs) {
      val full = Matcher.run(ic.gen, left, right, c, idCol, textCol).cache()
      val fullRows = rows(full)
      def same(fold: DataFrame, what: String): Unit =
        assert(rows(fold) == fullRows, s"$name: $what")
      val prior = Matcher.run(ic.gen, left.filter(isOld), right.filter(isOld), c,
        idCol, textCol).cache()
      def fold(rightNew: DataFrame) = Matcher.incremental(ic.gen,
        left.filter(isOld), left.filter(not(isOld)), right.filter(isOld), rightNew,
        prior, c, idCol, textCol)
      same(fold(right.filter(not(isOld))), s"fresh increment under $c")
      same(fold(right.filter(not(isOld)).unionByName(right.filter(isOld).limit(20))),
        s"replayed increment under $c")
      same(Matcher.incremental(ic.gen, left, left.limit(0), right, right.limit(0),
        full, c, idCol, textCol), s"empty increment under $c")
      assert(fullRows.nonEmpty, s"$name: fixture produced no matches")
      prior.unpersist(); full.unpersist()
    }
  }

  test("incremental accepts only pairwise generators") {
    val df = spark.range(1).selectExpr("CAST(id AS STRING) AS id", "'a' AS text")
    assertCompiles("Matcher.incremental(Union(Block(), Lsh()), df, df, df, df, df, cfg)")
    // candidacy of a sorted neighborhood depends on row POSITION, so
    // the old×old ∪ new×all ∪ old×new decomposition does not exist
    assertTypeError("Matcher.incremental(SortedNeighborhood(), df, df, df, df, df, cfg)")
  }


  test("rankTopKDistinct collapses score-divergent pair repeats to one slot") {
    // upsert shape: the same (left, right) pair scored under two payload
    // versions — non-adjacent under the score ordering, adjacent under
    // the dedup ordering; the pair must consume exactly ONE top-k slot
    // (best score survives) so a legit third match is not displaced
    val scored = spark.createDataFrame(Seq(
      ("l1", "rA", 0.95), ("l1", "rB", 0.90), ("l1", "rA", 0.70),
      ("l1", "rC", 0.60), ("l2", "rA", 0.80)
    )).toDF("left_id", "right_id", "score")
    val got = Matcher.rankTopKDistinct(scored, topk = 3)
      .orderBy("left_id", "right_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("l1", "rA", 0.95), ("l1", "rB", 0.90), ("l1", "rC", 0.60),
      ("l2", "rA", 0.80)))
  }

  test("transitive clustering recovers latent entities (size-3 clusters)") {
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val m = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(topk = 2),
      idCol = "id", textCol = "address_norm")
    val clusters = ConnectedComponents.run(m, "left_id", "right_id").cache()
    val n = left.count()
    // every entity k forms exactly the cluster {k, rk, sk} rooted at k
    val sizes = clusters.groupBy("component").count()
    assert(sizes.count() == n, s"expected $n clusters")
    assert(sizes.filter(col("count") =!= 3).count() == 0, "all clusters size 3")
    val wrong = clusters.filter(
      col("component") =!= regexp_replace(col("id"), "^[rs]", "")).count()
    assert(wrong == 0, "cluster roots are the left entity ids")
  }

  test("unmatched anti-joins partition the inputs") {
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val m = Matcher.run(Block(hasGeo = true), left, right, cfg.copy(topk = 2),
      idCol = "id", textCol = "address_norm").cache()
    val ul = Matcher.unmatchedLeft(left, m, "id")
    val ur = Matcher.unmatchedRight(right, m, "id")
    assert(ul.count() + m.select("left_id").distinct().count() == left.count())
    assert(ur.count() + m.select("right_id").distinct().count() == right.count())
  }

  test("index mode zips positionally with score 1.0 (reference unit test)") {
    import spark.implicits._
    // replicates /root/reference/tests/test_match.py:6-29 semantics
    val l = Seq(("0", "A Sokak 1"), ("1", "B Cadde 2")).toDF("id", "address")
    val r = Seq(("0", "A Sokak 1 X"), ("1", "B Cadde 2 Y")).toDF("id", "address")
    val out = Matcher.matchIndex(l, r).orderBy("left_id").collect()
    assert(out.map(x => (x.getString(0), x.getString(1), x.getDouble(2))).toSeq ==
      Seq(("0", "0", 1.0), ("1", "1", 1.0)))
  }

  test("coPartitioned: bucketed sides join with zero exchanges, same results") {
    val left = norm(AddressFixture.left(spark, sf0001))
    val right = norm(AddressFixture.rightAll(spark, sf0001))
    val base = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val c = cfg.copy(saltBuckets = 0)
    Matcher.writeBucketedByBlockKey(left, c, "bkt_left", s"$base/left", 8,
      textCol = "address_norm")
    Matcher.writeBucketedByBlockKey(right, c, "bkt_right", s"$base/right", 8,
      textCol = "address_norm")
    val lb = spark.table("bkt_left")
    val rb = spark.table("bkt_right")
    val m = Matcher.run(Block(hasGeo = true), lb, rb, c.copy(coPartitioned = true),
      idCol = "id", textCol = "address_norm")
    m.collect()
    val plan = m.queryExecution.executedPlan.toString
    val joinSection = plan.split("Window").head // exchanges before the top-k window are the join's
    assert(!joinSection.contains("Exchange hashpartitioning(block_key"),
      s"bucketed join still exchanges on block_key:\n$plan")
    // results identical to the shuffled path
    val plain = Matcher.run(Block(hasGeo = true), left, right, c,
      idCol = "id", textCol = "address_norm")
    assert(m.exceptAll(plain).count() == 0 && plain.exceptAll(m).count() == 0)
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
  }
}

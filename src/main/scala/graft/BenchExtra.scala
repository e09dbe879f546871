package graft

import graft.cluster.ConnectedComponents
import graft.fixtures.AddressFixture
import graft.matching.Matcher
import graft.matching.CandidateGenerator.Block
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 optimization diagnostics — NOT part of the driver contract
  * (Bench.scala is frozen): noop-sink isolation of each suite query's
  * sub-stages (guide §1.4) plus `.explain("formatted")` dumps for the
  * plans/r06 deliverable. Timings here inform OPTIMIZATION_r06.md; the
  * driver-comparable numbers stay Bench's.
  *
  * Usage: `sbt "runMain graft.BenchExtra [stages|plans] [outDir] [tag]"`.
  */
object BenchExtra {

  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = f
    System.err.println(f"[extra] $label%-42s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    a
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("stages")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // GRAFT_EXTRA_EVENTLOG=1: same config as the frozen bench session
    // plus an event log, so stage-level wall/task-time can be read back
    // (guide §7.1) without touching Bench.session
    val s =
      if (sys.env.get("GRAFT_EXTRA_EVENTLOG").contains("1")) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/tmp/spark-events"))
        org.apache.spark.sql.SparkSession.builder()
          .master(s"local[$cpus]")
          .appName(s"graft-extra-$cpus")
          .config("spark.sql.shuffle.partitions", 256)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.skewJoin.enabled", "true")
          .config("spark.sql.join.preferSortMergeJoin", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.eventLog.enabled", "true")
          .config("spark.eventLog.dir", "/tmp/spark-events")
          .getOrCreate()
      } else Bench.session(cpus)
    s.sparkContext.setLogLevel("WARN")
    try {
      mode match {
        case "plans" => dumpPlans(s, dir, args.lift(1).getOrElse("plans/r06"),
          args.lift(2).getOrElse("before"))
        case "addrx" => addrDeep(s, dir)
        case "exprx" => exprDeep(s, dir)
        case "tsrx" => tsrDeep(s, dir)
        case "tokx" => tokPrep(s, dir)
        case "thrx" => throughputReplica(s, dir)
        case _ => stages(s, dir)
      }
    } finally s.stop()
    Runtime.getRuntime.halt(0)
  }

  /** Noop-isolated sub-stage timings for the expensive suite queries. */
  private def stages(s: SparkSession, dir: String): Unit = {
    s.sparkContext.setJobDescription("warmup")
    // small warmup of scan+codegen paths so stage timings aren't JIT-dominated
    time("warmup (small match)") {
      val conv = SparkEntryBench.convNormV(s, dir, variants = 2).cache()
      try Matcher.run(Block(),
        conv.filter(col("variant") === 0).limit(500),
        conv.filter(col("variant") > 0).limit(1500),
        graft.matching.MatchConfig.reference.copy(saltBuckets = 8),
        idCol = "conv_id", textCol = "text_norm").count()
      finally conv.unpersist()
    }

    // ---- match_transcripts_tsr decomposition ----
    s.sparkContext.setJobDescription("tsr: corpus assembly + normalize")
    val conv = SparkEntryBench.convNormV(s, dir, variants = 12)
    time("tsr: turns scan (noop)") { noop(graft.transcripts.Transcripts.turns(s, dir, 12).toDF()) }
    time("tsr: convNormV assembly+normalize (noop)") { noop(conv) }
    val convC = conv.cache()
    time("tsr: cache materialize") { convC.count() }
    System.err.println(s"[extra] tsr conv cached partitions = ${convC.rdd.getNumPartitions}")
    s.sparkContext.setJobDescription("tsr: match over cached corpus")
    time("tsr: match (cached corpus)") {
      Matcher.run(Block(),
        convC.filter(col("variant") === 0),
        convC.filter(col("variant") > 0),
        graft.matching.MatchConfig.reference.copy(saltBuckets = 8),
        idCol = "conv_id", textCol = "text_norm").count()
    }
    convC.unpersist()

    // ---- match_addr_lev / clusters_cc decomposition ----
    s.sparkContext.setJobDescription("addr: normalize")
    val lhs0 = SparkEntry.addrNorm(AddressFixture.left(s, dir))
    val rhs0 = SparkEntry.addrNorm(AddressFixture.rightAll(s, dir))
    time("addr: normalize left+right (noop)") { noop(lhs0); noop(rhs0) }
    val lhs = lhs0.cache(); val rhs = rhs0.cache()
    time("addr: cache materialize") { lhs.count() + rhs.count() }
    s.sparkContext.setJobDescription("addr: match over cached sides")
    val m = Matcher.run(Block(hasGeo = true), lhs, rhs, Bench.addrSaltedCfg,
      idCol = "id", textCol = "address_norm")
    time("addr: match (cached sides)") { m.count() }
    s.sparkContext.setJobDescription("addr: cc over match output")
    time("addr: cc (match recomputed + cc)") {
      ConnectedComponents.run(m, "left_id", "right_id").count()
    }
    lhs.unpersist(); rhs.unpersist()

    // ---- minhash_dedup decomposition ----
    s.sparkContext.setJobDescription("minhash: stages")
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val withShingles = docs.select(col("doc_id").as("id"), col("text").as("t"))
      .repartition(graft.util.Parallelism.spread(s))
      .withColumn("sh", graft.dedup.Dedup.shingles(col("t"), 5))
      .filter(size(col("sh")) > 0)
    time("minhash: shingles (noop, spread)") { noop(withShingles.select("id", "sh")) }
    time("minhash: signatures (noop, spread)") {
      noop(graft.dedup.Dedup.minhashSignatureRelational(withShingles, 16))
    }
    time("minhash: full pairs") {
      ExtraQueries.queries("d_minhash_pairs")(s, dir).count()
    }

    // ---- setsim_overlap decomposition ----
    s.sparkContext.setJobDescription("setsim: stages")
    val convS = SparkEntry.convNorm(s, dir).cache()
    convS.count()
    val lm = graft.blocking.MetaBlocking.membership(
      convS.filter(col("variant") === 0), "conv_id", "text_norm")
    time("setsim: membership left (noop)") { noop(lm) }
    time("setsim: full overlapJoin (cached conv)") {
      graft.blocking.SetSimJoin.overlapJoin(
        convS.filter(col("variant") === 0),
        convS.filter(col("variant") > 0),
        minOverlap = 30, idCol = "conv_id", textCol = "text_norm").count()
    }
    convS.unpersist()

    // ---- cheap queries, one line each ----
    s.sparkContext.setJobDescription("cheap queries")
    time("asof_events") {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.temporal.AsOfJoin.nearestPrior(
        ev.select("user_id", "event_id", "ts"),
        ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("err_ts"),
            col("event_id").as("err_event_id")),
        "user_id", "ts", "err_ts", "err_event_id").count()
    }
    time("sessionize_events") {
      graft.sessions.Sessionize.sessionStats(
        graft.sessions.Sessionize.assignSessions(
          s.read.parquet(s"$dir/events.parquet"), gapSeconds = 43200L)).count()
    }
    time("ann_brute") { ExtraQueries.queries("v_ann_brute")(s, dir).count() }
  }

  /** Replica of Bench.matchThroughput's timed region (R=16 corpus,
    * salted match, count) for event-log stage analysis — the frozen
    * bench can't run with an event log, this can. */
  private def throughputReplica(s: SparkSession, dir: String): Unit = {
    import graft.matching.{MatchConfig, Matcher}
    val R = 16
    val base = SparkEntryBench.convNormV(s, dir, variants = 12)
    val conv = base
      .withColumn("rep", explode(sequence(lit(0), lit(R - 1))))
      .select(
        concat(col("conv_id"), lit("_q"), col("rep")).as("conv_id"),
        col("variant"),
        concat(format_string("q%02dx ", col("rep")), col("text_norm")).as("text_norm"))
      .cache()
    time("corpus materialize (untimed in bench)") { conv.count() }
    val lhs = conv.filter(col("variant") === 0)
    val rhs = conv.filter(col("variant") > 0)
    val cfg = MatchConfig.reference.copy(blockBy = "digits+prefix10", saltBuckets = 8)
    val hot = Matcher.hotBlockKeys(lhs, rhs, cfg, textCol = "text_norm")
    val cfgStats = cfg.copy(knownHotKeys = Some(hot))
    for (r <- 1 to 2) {
      s.sparkContext.setJobDescription(s"thrx run $r")
      time(s"throughput match (run $r)") {
        Matcher.run(Block(), lhs, rhs, cfgStats,
          idCol = "conv_id", textCol = "text_norm").count()
      }
    }
    conv.unpersist()
  }

  /** Fused-vs-chain isolation of the per-row prep expressions over the
    * R=16 throughput corpus rows (the texts the scoring join actually
    * sees) — quantifies exactly the two formulations' per-row cost with
    * no join around them. */
  private def tokPrep(s: SparkSession, dir: String): Unit = {
    import graft.similarity.{FuzzFunctions, Scores}
    val base = SparkEntryBench.convNormV(s, dir, variants = 12)
      .withColumn("rep", explode(sequence(lit(0), lit(7))))
      .select(concat(format_string("q%02dx ", col("rep")), col("text_norm")).as("t"))
      .cache()
    time("corpus materialize") { base.count() }
    time("noop ids") { noop(base.select(length(col("t")))) }
    for (r <- 1 to 2) {
      time(s"tokset fused (run $r)") {
        noop(base.select(FuzzFunctions.sortedTokenSet(col("t")).as("x")))
      }
      time(s"tokset chain (run $r)") {
        noop(base.select(FuzzFunctions.sortedTokenSetColumns(col("t")).as("x")))
      }
      time(s"digit_runs fused (run $r)") {
        noop(base.select(Scores.digitRuns(col("t")).as("x")))
      }
      time(s"digit_runs chain (run $r)") {
        noop(base.select(Scores.digitRunsColumn(col("t")).as("x")))
      }
    }
    base.unpersist()
  }

  /** Expression-level isolation of the tsr corpus chain: where do the
    * ~100 CPU-seconds of convNormV actually go (turn synthesis, doc
    * re-assembly, the normalize regex chain, the entity/variant
    * extracts)? Every leg is noop-sunk (guide §1.4) and runs over a
    * cached input so legs time exactly one expression set. */
  private def tsrDeep(s: SparkSession, dir: String): Unit = {
    import graft.transcripts.Transcripts
    // warm codegen/JIT on the same expressions, small corpus
    time("warmup convNormV v2") { noop(SparkEntryBench.convNormV(s, dir, variants = 2)) }
    time("convDocs only (vtext synthesis)") {
      noop(Transcripts.convDocs(s, dir, 12))
    }
    time("turns (noop)") { noop(Transcripts.turns(s, dir, 12).toDF()) }
    // assembled doc, no normalize / no extracts
    val assembled = Transcripts.turns(s, dir, 12).toDF()
      .groupBy(col("conv_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x.getField("text")), "").as("doc"))
    time("assembly only (no normalize)") { noop(assembled) }
    val docsC = assembled.cache()
    time("assembled docs cache materialize") { docsC.count() }
    time("normalize over cached docs") {
      noop(docsC.select(col("conv_id"),
        graft.normalize.Normalizer.normalize(col("doc")).as("text_norm")))
    }
    time("normalize over cached docs (2nd)") {
      noop(docsC.select(col("conv_id"),
        graft.normalize.Normalizer.normalize(col("doc")).as("text_norm")))
    }
    time("lower only over cached docs") {
      noop(docsC.select(col("conv_id"), lower(col("doc")).as("t")))
    }
    time("regex extracts only (entity/variant)") {
      noop(docsC.select(
        regexp_extract(col("conv_id"), "c([0-9]+)_", 1).cast("bigint").as("e"),
        regexp_extract(col("conv_id"), "_([0-9]+)$", 1).cast("int").as("v")))
    }
    docsC.unpersist()
  }

  /** Per-expression cost isolation over the materialized addr candidate
    * pair set — separates scorer/digits/geo/combine cost from join and
    * shuffle cost. */
  private def exprDeep(s: SparkSession, dir: String): Unit = {
    import graft.blocking.BlockKeys
    import graft.similarity.{FuzzFunctions, Scores}
    val cfg = Bench.addrSaltedCfg
    val lhs = SparkEntry.addrNorm(AddressFixture.left(s, dir))
    val rhs = SparkEntry.addrNorm(AddressFixture.rightAll(s, dir))
    val bk = (c: org.apache.spark.sql.Column) => BlockKeys.blockKey(c, cfg.blockBy)
    val pairs = lhs.select(col("id").as("left_id"), col("address_norm").as("left_text"),
        col("lat").as("left_lat"), col("lon").as("left_lon"),
        bk(col("address_norm")).as("bkey"))
      .join(rhs.select(col("id").as("right_id"), col("address_norm").as("right_text"),
        col("lat").as("right_lat"), col("lon").as("right_lon"),
        bk(col("address_norm")).as("bkey")), Seq("bkey"))
      .withColumn("left_digit_runs", Scores.digitRuns(col("left_text")))
      .withColumn("right_digit_runs", Scores.digitRuns(col("right_text")))
      .cache()
    time("pairs cache materialize") { pairs.count() }
    System.err.println(s"[extra] pairs = ${pairs.count()}, partitions = ${pairs.rdd.getNumPartitions}")
    time("baseline noop (ids only)") { noop(pairs.select("left_id", "right_id")) }
    val lev = FuzzFunctions.scorer("lev_ratio")(col("left_text"), col("right_text"))
    time("lev_ratio only") { noop(pairs.select(col("left_id"), lev.as("t"))) }
    // the bound the addr suite cfg actually implies (threshold 75,
    // weights .8/.15/.05, hasGeo) — see Matcher.minTextScore
    val levB = FuzzFunctions.lev_ratio_bounded(
      col("left_text"), col("right_text"), 68.74249999999999)
    time("lev_ratio_bounded only") { noop(pairs.select(col("left_id"), levB.as("t"))) }
    time("lev_ratio x2 (dup cost probe)") {
      noop(pairs.select(col("left_id"), lev.as("t1"), lev.as("t2")))
    }
    val digitsS = Scores.digitsScoreArrays(col("left_digit_runs"), col("right_digit_runs"))
    time("digits only") { noop(pairs.select(col("left_id"), digitsS.as("d"))) }
    val d = Scores.haversineKm(col("left_lat"), col("left_lon"), col("right_lat"), col("right_lon"))
    val geoS = when(col("left_lat").isNotNull && col("left_lon").isNotNull &&
      col("right_lat").isNotNull && col("right_lon").isNotNull,
      Scores.geoScoreKm(d, cfg.geoMaxKm))
    time("geo only") { noop(pairs.select(col("left_id"), geoS.as("g"))) }
    val full = Scores.combine(lev, digitsS, geoS, cfg.wText, cfg.wDigits, cfg.wGeo)
    time("full combine") { noop(pairs.select(col("left_id"), full.as("score"))) }
    // split formulation: components as a separate projection so combine
    // references columns, never re-evaluating the component expressions
    val split = pairs
      .withColumn("__t", lev).withColumn("__d", digitsS).withColumn("__g", geoS)
      .select(col("left_id"),
        Scores.combine(col("__t"), col("__d"), col("__g"),
          cfg.wText, cfg.wDigits, cfg.wGeo).as("score"))
    time("split combine") { noop(split) }
    pairs.unpersist()
  }

  /** Fine-grained decomposition of the addr match (suite's
    * match_addr_lev / clusters_cc front half). */
  private def addrDeep(s: SparkSession, dir: String): Unit = {
    import graft.blocking.BlockKeys
    time("warmup (small addr match)") {
      val l = SparkEntry.addrNorm(AddressFixture.left(s, dir)).limit(2000).cache()
      val r = SparkEntry.addrNorm(AddressFixture.rightAll(s, dir)).limit(4000).cache()
      Matcher.run(Block(hasGeo = true), l, r, Bench.addrSaltedCfg,
        idCol = "id", textCol = "address_norm").count()
      l.unpersist(); r.unpersist()
    }
    val lhs = SparkEntry.addrNorm(AddressFixture.left(s, dir)).cache()
    val rhs = SparkEntry.addrNorm(AddressFixture.rightAll(s, dir)).cache()
    time("cache sides") { lhs.count() + rhs.count() }
    val bk = (c: org.apache.spark.sql.Column) =>
      BlockKeys.blockKey(c, Bench.addrSaltedCfg.blockBy)
    val nPairs = time("candidate pair count (slim join)") {
      lhs.select(bk(col("address_norm")).as("bkey"))
        .join(rhs.select(bk(col("address_norm")).as("bkey")), Seq("bkey")).count()
    }
    System.err.println(s"[extra] candidate pairs = $nPairs")
    val sp = Matcher.scoredPairs(lhs, rhs, Bench.addrSaltedCfg,
      idCol = "id", textCol = "address_norm", hasGeo = true)
    time("scoredPairs only (no topk)") { sp.count() }
    System.err.println("[extra] scoredPairs FINAL plan:\n" +
      sp.queryExecution.executedPlan.toString.linesIterator.take(80).mkString("\n"))
    time("full match") {
      Matcher.run(Block(hasGeo = true), lhs, rhs, Bench.addrSaltedCfg,
        idCol = "id", textCol = "address_norm").count()
    }
    time("full match (2nd)") {
      Matcher.run(Block(hasGeo = true), lhs, rhs, Bench.addrSaltedCfg,
        idCol = "id", textCol = "address_norm").count()
    }
    val cfgNoSalt = Bench.addrSaltedCfg.copy(saltBuckets = 0)
    time("match unsalted (AQE skew only)") {
      Matcher.run(Block(hasGeo = true), lhs, rhs, cfgNoSalt,
        idCol = "id", textCol = "address_norm").count()
    }
    lhs.unpersist(); rhs.unpersist()
  }

  /** The pre-r06 CC round formulation (withMin = groupBy + join-back),
    * byte-for-byte the expression tree removed by the window rewrite —
    * kept ONLY so the `_before` plan dump reflects the shipped r05 shape
    * (see git history of ConnectedComponents.withMin). */
  private def legacyCcRound(ed: DataFrame): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .distinct()
    def neighbors(x: DataFrame): DataFrame =
      x.select(col("u").as("a"), col("v").as("b"))
        .union(x.select(col("v").as("a"), col("u").as("b")))
    def withMin(nb: DataFrame): DataFrame = {
      val mins = nb.groupBy("a")
        .agg(min(col("b")).as("minb"))
        .select(col("a"), least(col("a"), col("minb")).as("m"))
      nb.join(mins, "a")
    }
    val e1 = withMin(neighbors(ed))
      .filter(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))
    val small = withMin(neighbors(e1))
      .select(explode(
        when(col("b") <= col("a"), array(
          struct(col("b").as("u"), col("m").as("v")),
          struct(col("a").as("u"), col("m").as("v"))))
        .otherwise(array(
          struct(col("a").as("u"), col("m").as("v"))))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    canon(small)
  }

  /** Dump `.explain("formatted")` for the eight suite queries and every
    * matcher query of [[SparkEntry.queries]] into
    * `<outDir>/<name>_<tag>.txt` (tag = before|after). */
  private def dumpPlans(s: SparkSession, dir: String, outDir: String, tag: String): Unit = {
    val out = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(out)
    def dump(name: String, df: => DataFrame): Unit = {
      val plan = try df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      catch { case e: Exception => s"PLAN FAILED: ${e.getMessage}" }
      java.nio.file.Files.write(out.resolve(s"${name}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[extra] wrote ${name}_$tag.txt")
    }
    val ev = s.read.parquet(s"$dir/events.parquet")
    dump("asof_events", graft.temporal.AsOfJoin.nearestPrior(
      ev.select("user_id", "event_id", "ts"),
      ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"),
          col("event_id").as("err_event_id")),
      "user_id", "ts", "err_ts", "err_event_id"))
    dump("sessionize_events", graft.sessions.Sessionize.sessionStats(
      graft.sessions.Sessionize.assignSessions(ev, gapSeconds = 43200L)))
    dump("ann_brute", ExtraQueries.queries("v_ann_brute")(s, dir))
    // eagerResult=false: the shipped query ends in an eager
    // localCheckpoint, whose returned frame is a bare RDD scan — the
    // escape hatch returns the LAZY plan the checkpoint materializes
    dump("minhash_dedup", graft.dedup.Dedup.minhashLshPairs(
      s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      k = 5, numHashes = 16, bands = 4, jaccardThreshold = 0.5,
      eagerResult = false))
    val lhs = SparkEntry.addrNorm(AddressFixture.left(s, dir))
    val rhs = SparkEntry.addrNorm(AddressFixture.rightAll(s, dir))
    val m = Matcher.run(Block(hasGeo = true), lhs, rhs, Bench.addrSaltedCfg,
      idCol = "id", textCol = "address_norm")
    dump("match_addr_lev", m)
    // CC is iterative (no single static plan): dump one large-star/
    // small-star round's plan over the canonical match edge set — the
    // plan shape every round of the loop runs. The "before" tag uses the
    // archived r05 formulation so the diff is the actual code change.
    val ccEdges = m.select(col("left_id").as("u"), col("right_id").as("v"))
    dump("clusters_cc_round",
      if (tag == "before") legacyCcRound(ccEdges)
      else ConnectedComponents.oneRound(ccEdges))
    val conv = SparkEntryBench.convNormV(s, dir, variants = 12)
    dump("match_transcripts_tsr", Matcher.run(Block(),
      conv.filter(col("variant") === 0),
      conv.filter(col("variant") > 0),
      graft.matching.MatchConfig.reference.copy(saltBuckets = 8),
      idCol = "conv_id", textCol = "text_norm"))
    val convS = SparkEntry.convNorm(s, dir)
    dump("setsim_overlap", graft.blocking.SetSimJoin.overlapJoin(
      convS.filter(col("variant") === 0),
      convS.filter(col("variant") > 0),
      minOverlap = 30, idCol = "conv_id", textCol = "text_norm",
      eagerResult = false))
    // every driver query that runs the matcher (m_match_*, a_match_*,
    // m_unmatched_*, ...), under its query name — the plan-identity
    // check for matcher refactors (tools/plan_diff.py)
    SparkEntry.queries.keys.filter(_.contains("match")).toSeq.sorted
      .foreach(q => dump(q, SparkEntry.queries(q)(s, dir)))
  }
}

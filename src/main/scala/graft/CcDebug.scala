package graft

import graft.cluster.ConnectedComponents
import graft.fixtures.AddressFixture
import graft.matching.Matcher
import graft.matching.CandidateGenerator.Block

/** Scratch diagnostics for clusters_cc tuning (not part of the driver
  * contract): materializes the match edges untimed, then times the CC
  * loop alone. */
object CcDebug {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the bench's own session factory: the diagnostic must time the
    // exact session config (join strategy, AQE, partitions) the suite
    // runs, or its stage split explains a different plan
    val s = Bench.session(32)
    s.sparkContext.setLogLevel("WARN")
    val matches = Matcher.run(Block(hasGeo = true),
      SparkEntry.addrNorm(AddressFixture.left(s, dir)),
      SparkEntry.addrNorm(AddressFixture.rightAll(s, dir)),
      Bench.addrSaltedCfg,
      idCol = "id", textCol = "address_norm").cache()
    val t0 = System.nanoTime()
    val m = matches.count()
    val tMatch = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[cc-debug] match edges=$m%d in $tMatch%.1fs (cached)")
    sys.env.get("DEBUG_AQE").foreach(v => s.conf.set("spark.sql.adaptive.enabled", v))
    sys.env.get("DEBUG_PARTS").foreach(v => s.conf.set("spark.sql.shuffle.partitions", v))
    val checkEvery = sys.env.get("DEBUG_CHECK_EVERY").map(_.toInt).getOrElse(1)
    for (run <- 1 to 2) {
      val t1 = System.nanoTime()
      val c = ConnectedComponents.run(matches, "left_id", "right_id",
        checkEvery = checkEvery).count()
      System.err.println(
        f"[cc-debug] run $run%d: components rows=$c%d cc wall=${(System.nanoTime() - t1) / 1e9}%.1fs (checkEvery=$checkEvery%d)")
    }
    s.stop()
    Runtime.getRuntime.halt(0)
  }
}

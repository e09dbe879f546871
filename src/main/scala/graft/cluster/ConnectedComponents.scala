package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transitive clustering of the match graph — the north-rule stage the
  * reference does not have (its pipeline stops at pairwise match.csv).
  * Implements the alternating **large-star / small-star** algorithm
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) entirely with DataFrame self-joins + aggregations:
  *
  *   large-star: for each node a, with m = min(Γ⁺(a)), emit (b, m) for
  *               every neighbor b > a
  *   small-star: with m = min(Γ⁺(a)), emit (b, m) for every neighbor
  *               b <= a (plus (a, m)), dropping self loops
  *
  * Both steps strictly reduce the potential function and converge to
  * star graphs rooted at each component's minimum id in O(log n) rounds
  * — at 10^12-edge scale this is the shuffle-friendly alternative to
  * label propagation's O(diameter) rounds.
  *
  * Scale notes: every round is two shuffles (groupBy a + join back);
  * `localCheckpoint` cuts the lineage each round so plans don't grow
  * exponentially; convergence is detected with a cheap count + xor-hash
  * aggregate over the canonical edge set.
  *
  * Reliability at cluster scale: `localCheckpoint` stores blocks on
  * executors — an executor loss mid-job loses them. Pass a
  * [[CcCheckpoint]] to instead commit each round's edge set as a
  * [[graft.io.TableIO]] snapshot on reliable storage (lineage-keyed), which
  * both cuts lineage AND makes the whole clustering resumable: a re-run
  * over the same input finds each completed round's snapshot by its
  * lineage hash and reads it back instead of recomputing (idempotent
  * resume, the north rule's checkpoint semantics).
  */
object ConnectedComponents {

  /** Reliable-checkpoint config: snapshot root/table prefix and cadence
    * (`everyRounds` = n commits every n-th round; rounds in between use
    * localCheckpoint). */
  case class CcCheckpoint(root: String, table: String, everyRounds: Int = 1)

  // -- pure round algebra (object-level so plan diagnostics can reuse) ----

  private def canon(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  private def neighbors(ed: DataFrame): DataFrame =
    ed.select(col("u").as("a"), col("v").as("b"))
      .union(ed.select(col("v").as("a"), col("u").as("b")))

  /** Attach m = min(Γ⁺(a)) to every (a, b) neighbor row. ONE exchange:
    * an unbounded `min` window partitioned by `a` — the previous
    * groupBy("a") + join-back formulation paid two exchanges of the
    * neighbor set per half-step (agg shuffle + join shuffle), and with
    * two half-steps per round the exchange count is what a near-converged
    * round's wall clock is made of (guide §2.4: window functions keyed
    * like the aggregation share one partitioning). Identical output
    * (per-row m over the same group). */
  private def withMin(nb: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("a")
    nb.withColumn("m", least(col("a"), min(col("b")).over(w)))
  }

  /** One alternating round (large-star then small-star), pure plan — no
    * action, no persistence. Exposed private[graft] so BenchExtra can
    * dump the round's physical plan (the loop itself is iterative and
    * has no single static plan to print). */
  private[graft] def oneRound(ed: DataFrame): DataFrame = {
    // large-star: the emissions ALONE are the next edge set (Kiveris
    // Lemma: connectivity is preserved, and no non-isolated vertex
    // drops out — if min(Γ⁺(a)) < a then a has a neighbor c < a,
    // and c's own large-star emits (a, m_c)).
    val e1 = withMin(neighbors(ed))
      .filter(col("b") > col("a"))
      .select(col("b").as("u"), col("m").as("v"))

    // small-star, single pass: each (a, b, m) row yields (b, m) when
    // b <= a, and every row carries (a, m) — one explode instead of
    // two scans of the aggregated frame.
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

  /** @param edges DataFrame with two string/integral columns naming an
    *              undirected edge (self-loops and duplicates welcome)
    * @param checkEvery convergence-check cadence: how many
    *        large+small-star rounds chain into ONE job between
    *        signature checks. Both star steps are deterministic and
    *        strictly decrease the Kiveris potential on any change, so
    *        the map has no cycles and signature equality at distance
    *        `checkEvery` still implies a fixed point. Measured at
    *        local[32] on the sf0.1 match graph this is NEUTRAL (a
    *        chained 2-round job costs ~2× a 1-round job — per-round
    *        cost is shuffle-stage latency, which chaining keeps), so
    *        the default stays 1; raise it on a real cluster where the
    *        driver round-trip + job-submission barrier per signature
    *        check is the cost you want amortized. Worst case it
    *        computes up to `2*checkEvery-1` extra no-op rounds: a
    *        fixed point reached just after a check still changed the
    *        signature mid-chain, so a full additional no-op chain runs
    *        before equality is detected.
    * @return (id, component) — every vertex mapped to the minimum vertex
    *         id of its connected component
    */
  def run(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 25,
      checkpoint: Option[CcCheckpoint] = None,
      checkEvery: Int = 1,
      strict: Boolean = false): DataFrame = {
    val spark = edges.sparkSession

    // Superseded round checkpoints are unpersisted as the loop advances
    // (below) — without this a long run pins every round's edge set in
    // executor storage. See [[graft.util.CheckpointHygiene]].
    val hygiene = new graft.util.CheckpointHygiene

    // The raw 2-column edge projection is checkpointed ONCE and both the
    // working edge set and the vertex list derive from it — `edges` may
    // carry an arbitrarily expensive upstream plan (in the bench it is a
    // full salted block-join match), and deriving vertices from the raw
    // frame directly would recompute that whole plan again for the final
    // vertex join. Lazy: the signature() action below materializes the
    // chain in one job. Released before run() returns — the eager final
    // checkpoint at the bottom is the last reader.
    val raw = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      .localCheckpoint(false)

    // All vertices (from `raw`, not the canon'd set, so isolated
    // self-loop-only vertices still get a component id).
    val vertices = raw
      .select(col("u").as("id")).union(raw.select(col("v").as("id")))
      .distinct()

    var e = hygiene.add(canon(raw).localCheckpoint(false))
    hygiene.advance()

    def signature(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)).as("c"),
        coalesce(sum(hash(col("u"), col("v")).cast("long")), lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    val sig0 = signature(e)
    val inputSig = s"${sig0._1}_${sig0._2}"

    /** Round persistence: TableIO snapshot (resumable, reliable) when
      * configured for this round, LAZY localCheckpoint otherwise (the
      * convergence signature() action that always follows materializes
      * it — an eager checkpoint would cost one extra job per round,
      * and on a small graph those fixed job costs ARE the runtime). The
      * lineage key (input signature + round) makes a re-run over
      * identical input resume from every already-committed round. */
    def persist(df: DataFrame, round: Int): DataFrame =
      checkpoint match {
        case Some(c) if round % math.max(1, c.everyRounds) == 0 =>
          val (restored, _) = graft.io.TableIO.resumeOrCompute(
            spark, c.root, s"${c.table}_r$round",
            Map("input_sig" -> inputSig, "round" -> round.toString))(df)
          restored
        case _ => df.localCheckpoint(false)
      }

    var sig = sig0
    var converged = false
    var iter = 0
    val cadence = math.max(1, checkEvery)
    while (!converged && iter < maxIter) {
      var cur = e
      var k0 = 0
      while (k0 < cadence && iter + k0 < maxIter) {
        cur = oneRound(cur)
        k0 += 1
        // bound the plan between chained rounds: oneRound references
        // its input ~16× (two neighbors() unions, withMin's
        // agg+self-join, per half-step), so k unchecked rounds build a
        // 16^k-node plan — a LAZY localCheckpoint cuts the Catalyst
        // tree at each round while the whole chain still materializes
        // in the ONE job the signature() action below runs (the RDD
        // DAG stays chained)
        if (k0 < cadence && iter + k0 < maxIter)
          cur = hygiene.add(cur.localCheckpoint(false))
      }
      iter += k0
      val e2 = hygiene.add(persist(cur, iter))

      val newSig = signature(e2)
      // signature() materialized e2's checkpoint, truncating its lineage
      // past the previous round — free the superseded round's blocks
      converged = newSig == sig
      sig = newSig
      hygiene.advance()
      e = e2
    }

    // A maxIter exit without signature convergence means the star
    // assignment below can return component = min(neighborhood) instead
    // of the true component minimum — wrong partitions with no other
    // signal to the caller. O(log n) convergence makes the default cap
    // generous (25 rounds covers ~2^25-diameter graphs), so reaching it
    // is always worth a loud warning.
    if (!converged) {
      val msg =
        s"[cc] maxIter=$maxIter reached without convergence " +
          s"($iter rounds run) — component assignments may be incomplete; " +
          "raise maxIter (or lower checkEvery: up to 2*checkEvery-1 rounds " +
          "of the budget go to post-fixed-point no-op chains)"
      // strict: callers that COMMIT the result as durable state (the
      // streaming fold) must fail the batch rather than bake wrong
      // components into every subsequent incremental run
      if (strict) { hygiene.releaseAll(); graft.util.CheckpointHygiene.free(raw)
        throw new IllegalStateException(msg) }
      System.err.println(s"WARNING: $msg")
    }

    // At convergence every component is a star rooted at its min id:
    // component(v) = min neighbor (or itself for roots/isolated nodes).
    val assign = neighbors(e).groupBy("a")
      .agg(min(col("b")).as("minb"))
      .select(col("a").as("id"), least(col("a"), col("minb")).as("component"))
    // EAGER final checkpoint: materializing the vertex join here lets
    // run() release every upstream block before returning — the raw
    // edge projection and the last round's edge set (both edge-sized)
    // would otherwise stay pinned for the session. Callers hold only
    // the vertex-sized result; free it with CheckpointHygiene.free
    // once consumed.
    val result = vertices.join(assign, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint(true)
    graft.util.CheckpointHygiene.free(raw)
    hygiene.releaseAll()
    result
  }

  /** Incremental transitive clustering over a COMMITTED components
    * snapshot — the companion to
    * [[graft.matching.Matcher.incremental]]: when a new batch
    * of match edges lands, re-clustering the full edge history is
    * O(|E_all|); this is O(|V_old| + |E_new|).
    *
    * Correctness: a component is fully connected through its root, so
    * the prior snapshot's (id, component) STAR EDGES have exactly the
    * same transitive closure as every edge ever folded into it —
    * replacing the old edge set by its star contraction preserves the
    * connectivity relation, hence
    * `run(star(run(E1)) ∪ E2) = run(E1 ∪ E2)` with identical min-id
    * component labels (the star keeps every old vertex, including
    * singletons as self-loops, which [[run]]'s vertex derivation
    * retains as isolated nodes).
    *
    * Scale shape: the star set carries one row per OLD VERTEX instead
    * of one per old edge, and the untouched subgraph is already one
    * round from convergence (stars are large-star/small-star fixed
    * points), so rounds are driven by the increment's diameter, not
    * the corpus's. `priorComponents` must be the committed
    * `run`/`runIncremental` output over ALL previously-folded edges —
    * feeding a partial snapshot silently under-merges.
    *
    * @param priorComponents committed (id, component) snapshot
    * @param newEdges the increment's edges (srcCol, dstCol)
    */
  def runIncremental(
      priorComponents: DataFrame,
      newEdges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 25,
      checkpoint: Option[CcCheckpoint] = None,
      checkEvery: Int = 1,
      strict: Boolean = false): DataFrame =
    run(
      priorComponents.select(col("id").as("u"), col("component").as("v"))
        .unionByName(
          newEdges.select(col(srcCol).as("u"), col(dstCol).as("v"))),
      "u", "v", maxIter, checkpoint, checkEvery, strict)
}

package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's entry point: seeded workloads on one `local[4]`
  * session, every unit's outputs checked, end-to-end metrics from
  * untraced units and per-layer metrics from traced ones. Progress goes
  * to stderr; stdout carries a metric table and, last, one JSON line. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, work: Path)

  val Cores = 4
  /** Shuffle partitions: 2 per core, the library's own floor for its
    * explicit repartitions (`graft.util.Parallelism`), so a stage is two
    * waves of tasks rather than hundreds of near-empty ones at this size. */
  val Partitions = 8
  /** Set-up repetitions per run; `setup_s` takes their median. */
  val SetupReps = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" + (Workload.names :+ "all").mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> [--scale <x>] [--work <dir>]")
    sys.exit(2)
  }

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val w = need("workload")
    if (w != "all" && !Workload.names.contains(w)) usage(s"unknown workload '$w'")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1: '$t'")
    }
    Opts(w, need("seed").toLong, need("seconds").toDouble, trace,
      kv.get("scale").map(_.toDouble).getOrElse(Default.Scale),
      Paths.get(kv.getOrElse("work", ".bench_work")).toAbsolutePath)
  }

  object Default {
    /** 500 documents (6 000 conversations) and 1 500 customers: a tenth of
      * the test data's sf0.1 sizes, so that the runs of a before/after
      * comparison (ten seeds per workload, twice) fit in under an hour. */
    val Scale = 0.01
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def progress(msg: String): Unit = {
    System.err.println(s"[perfbench] $msg")
    System.err.flush()
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    Files.createDirectories(opts.work)
    val host = Host.start()
    val (spark, sessionS) = time(session(opts.work))
    val ledger = new Ledger
    spark.sparkContext.addSparkListener(ledger)
    val names = if (opts.workload == "all") Workload.names else Seq(opts.workload)
    val prefixed = names.size > 1
    val results = try {
      names.zipWithIndex.map { case (n, i) =>
        Runner(spark, ledger, opts, n, if (i == 0) sessionS else 0.0).run()
      }
    } catch {
      case NonFatal(e) =>
        progress(s"set-up failed: $e")
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
        throw e
    }
    val hostRec = host.finish(spark)
    val out = new Report(results, hostRec, opts, prefixed)
    out.write()
    System.out.flush()
    System.err.flush()
    spark.stop()
    Runtime.getRuntime.halt(if (results.forall(_.failed == 0)) 0 else 1)
  }
}

/** What one workload run measured. */
final case class Result(
    workload: String, seed: Long, trace: Boolean,
    setupS: Double, setupRepsS: Seq[Double], firstS: Double,
    runS: Seq[Double], tracedS: Seq[Double],
    records: Double, pairs: Double, peakRssMb: Double,
    attempted: Int, failed: Int, reference: Map[Int, Outputs],
    layers: Map[String, (Double, String)], spans: Seq[Span])

/** Runs one workload: set-up, a cold first unit, an untraced window and,
  * with tracing on, a traced window. */
final case class Runner(spark: SparkSession, ledger: Ledger, opts: Main.Opts,
    name: String, sessionS: Double) {
  import Main._

  private val env = Env(spark, opts.work.resolve(name), opts.seed, opts.scale)
  private val w = Workload(name, env)
  private val refs = mutable.LinkedHashMap.empty[Int, Outputs]
  private var attempted = 0
  /** Failed units, as (traced, index). */
  private val failures = mutable.LinkedHashSet.empty[(Boolean, Int)]
  private val unitLabel = s"$name/unit@"

  private def fail(t: Trace, index: Int, msg: String): Unit = {
    failures += (t.traced -> index)
    progress(s"$name ${if (t.traced) "traced " else ""}unit $index: $msg")
  }

  /** Runs unit `index`, checks its outputs and returns its seconds (NaN
    * when it failed); `onOut` reads the outputs before they are released.
    * An untraced unit's jobs carry the description `<workload>/unit@<index>`,
    * so the ledger counts them. */
  private def step(t: Trace, index: Int, onOut: UnitOut => Unit = _ => ()): Double = {
    attempted += 1
    try {
      w.prepare(index)
      val sc = spark.sparkContext
      if (!t.traced) sc.setJobDescription(unitLabel + index)
      val (u, s) = try time(w.unit(t, index)) finally if (!t.traced) sc.setJobDescription(null)
      try {
        val got = w.outputs(u)
        val pos = w.position(index)
        val ref = refs.getOrElseUpdate(pos, got)
        val oracle = w.oracle(pos)
        if (got != ref || oracle.exists(_ != got))
          fail(t, index, s"outputs differ: got $got, reference $ref" +
            oracle.fold("")(o => s", one-shot link $o"))
        onOut(u)
      } finally w.release(u)
      s
    } catch {
      case NonFatal(e) =>
        fail(t, index, s"failed: $e")
        Double.NaN
    }
  }

  /** Fails every traced unit whose job count differs from that of the
    * untraced units at its episode position by other than the workload's
    * [[Workload.tracedExtraJobs]], so a traced copy of a library call
    * that drifts from it shows. The traced window starts at unit 0, so a
    * span's run id is its unit's index. */
  private def checkJobs(tracer: Trace.On, extra: Int): Unit = ledger.synchronized {
    val untraced = ledger.labeled.toSeq.collect {
      case (d, n) if d.startsWith(unitLabel) => w.position(d.drop(unitLabel.length).toInt) -> n
    }.groupMap(_._1)(_._2)
    val runOf = tracer.spans.map(s => s.id -> s.run).toMap
    val traced = ledger.jobs.values.toSeq.flatMap(_.span).flatMap(runOf.get)
      .groupBy(identity).map { case (run, js) => run -> js.size }
    for ((run, n) <- traced.toSeq.sortBy(_._1)) {
      val want = untraced.getOrElse(w.position(run), Nil).distinct.map(_ + extra)
      if (want != Seq(n))
        fail(tracer, run, s"$n jobs where the untraced units ran ${want.map(_ - extra).mkString("/")}" +
          s" (+$extra expected)")
    }
  }

  /** Whole episodes from unit `from` until `seconds` have passed and at
    * least the workload's minimum of units ran. */
  private def window(t: Trace, seconds: Double, from: Int,
      onOut: UnitOut => Unit = _ => ()): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[Double]
    var i = from
    while (out.size < w.minUnits || (System.nanoTime() - t0) / 1e9 < seconds) {
      for (_ <- 0 until w.episode) {
        out += step(t, i, onOut)
        i += 1
      }
    }
    out.toSeq
  }

  def run(): Result = {
    progress(s"$name: set-up (seed ${opts.seed}, scale ${opts.scale})")
    // the repeated input generation is also the engine's warm-up: the
    // first unit still meets the workload's own operators cold
    val reps = (1 to SetupReps).map(_ => time(w.generate())._2)
    val setupS = sessionS + Stats.median(reps)
    progress(f"$name: set-up ${setupS}%.2f s (session $sessionS%.2f, inputs ${reps.map(r => f"$r%.2f").mkString("/")})")

    // unit 0 is the cold one; the window starts at an episode boundary
    // (the rest of the first episode is skipped), so it samples every
    // position equally
    val firstS = step(Trace.Off, 0)
    progress(f"$name: first unit $firstS%.3f s")
    val (_, measureS) = time(w.measure(opts.trace))
    progress(f"$name: constants and check preparation $measureS%.2f s (untimed)")
    (1 to w.warmUnits).foreach(i => step(Trace.Off, i))
    val from = math.max(w.episode, 1 + w.warmUnits)
    val runS = window(Trace.Off, if (opts.trace) opts.seconds / 2 else opts.seconds, from)
    progress(f"$name: untraced units ${runS.map(x => f"$x%.3f").mkString(" ")} s")

    val (tracedS, layers, spans) =
      if (!opts.trace) (Seq.empty[Double], Map.empty[String, (Double, String)], Seq.empty[Span])
      else {
        val tracer = new Trace.On(spark.sparkContext, name)
        val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        val ts = window(tracer, opts.seconds / 2, 0, onOut = u =>
          w.counters(u).foreach { case (k, v) => counts(k) += v })
        ledger.drain(spark.sparkContext)
        w.tracedExtraJobs.foreach(checkJobs(tracer, _))
        val layers = Layers.report(name, tracer.spans.toSeq, ledger,
          counts.toMap, ts.filterNot(_.isNaN), runS.filterNot(_.isNaN))
        (ts, layers, tracer.spans.toSeq)
      }
    Result(name, opts.seed, opts.trace, setupS, reps, firstS, runS, tracedS,
      w.records, w.pairs, Host.peakRssMb(), attempted, failures.size, refs.toMap, layers, spans)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest whole percentile with at least ten samples beyond it
    * (nearest rank), or None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val n = xs.size
      val q = math.floor(100.0 * (n - 10) / n).toInt
      val s = xs.sorted
      Some(q -> s(math.max(0, math.ceil(q / 100.0 * n).toInt - 1)))
    }
}

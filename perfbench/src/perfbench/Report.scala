package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Per-layer metrics of a traced window, from its spans and the ledger. */
object Layers {

  /** The layers, named after the modules they call into. */
  val names: Seq[String] = Seq("transcripts", "normalize", "blocking", "matching.join",
    "matching.score", "matching.rank", "dedup", "setsim", "cluster", "io")

  /** Generic metrics of every layer, with units. */
  val generic: Seq[(String, String)] = Seq("wall_s" -> "s", "self_s" -> "s", "cpu_s" -> "s",
    "wait_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_s" -> "s",
    "jobs" -> "count")

  /** Layer-specific counters, with units. */
  val counters: Seq[(String, String)] = Seq(
    "transcripts.rows_out" -> "rows", "normalize.rows_out" -> "rows",
    "blocking.candidates" -> "pairs", "blocking.hot_keys" -> "count",
    "blocking.hot_pair_frac" -> "ratio", "blocking.max_key_pairs" -> "pairs",
    "blocking.bloom_kept_frac" -> "ratio",
    "matching.scored_out" -> "pairs", "matching.useful_frac" -> "ratio",
    "matching.topk_out" -> "pairs", "matching.task_skew" -> "ratio",
    "dedup.candidates" -> "pairs", "dedup.useful_frac" -> "ratio",
    "setsim.candidates" -> "pairs", "setsim.useful_frac" -> "ratio",
    "cluster.edges_in" -> "edges", "cluster.components" -> "count",
    "io.bytes_written" -> "bytes")

  /** Whole-unit metrics of the traced window, with units. */
  val totals: Seq[(String, String)] = Seq(
    "trace.units" -> "count", "trace.wall_s" -> "s", "trace.executor_s" -> "s",
    "unattributed_s" -> "s", "unattributed_exec_frac" -> "ratio",
    "tracing_overhead_s" -> "s")

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] =
    names.flatMap(l => generic.map { case (m, u) => s"$l.$m" -> u }) ++ counters ++ totals

  private final case class Piece(layer: String, wall: Double, self: Double,
      stages: Seq[StageRec], jobs: Seq[JobRec])

  /** Splits the `matching.scored` span at the submission of its last
    * result stage: before it, the side exchanges (`matching.join`); from
    * it, the hash-join probe and scoring (`matching.score`). */
  private def splitScored(s: Span, stages: Seq[StageRec], jobs: Seq[JobRec]): Seq[Piece] = {
    val finals = stages.filter(st => !st.isMap && !st.completed.isNaN)
    val cut = if (finals.isEmpty) s.end
      else math.min(s.end, math.max(s.start, finals.maxBy(_.completed).submitted))
    val (score, join) = stages.partition(st => !st.submitted.isNaN && st.submitted >= cut)
    val scoreJobs = score.map(_.jobId).toSet
    val (sj, jj) = jobs.partition(j => scoreJobs.contains(j.jobId))
    Seq(Piece("matching.join", cut - s.start, cut - s.start, join, jj),
      Piece("matching.score", s.end - cut, s.end - cut, score, sj))
  }

  def report(workload: String, spans: Seq[Span], ledger: Ledger,
      counts: Map[String, Double], tracedS: Seq[Double], untracedS: Seq[Double])
      : Map[String, (Double, String)] = ledger.synchronized {
    val units = spans.count(_.parent < 0).max(1).toDouble
    val childWall = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wall).sum }
    val ids = spans.map(_.id).toSet
    val stagesBy = ledger.stages.values.toSeq.filter(_.span.exists(ids)).groupBy(_.span.get)
    val jobsBy = ledger.jobs.values.toSeq.filter(_.span.exists(ids)).groupBy(_.span.get)
    val pieces = spans.flatMap { s =>
      val st = stagesBy.getOrElse(s.id, Nil)
      val jb = jobsBy.getOrElse(s.id, Nil)
      val self = s.wall - childWall.getOrElse(s.id, 0.0)
      if (s.name == Link.Scored) splitScored(s, st, jb)
      else Seq(Piece(if (s.parent < 0) "unattributed" else s.name, s.wall, self, st, jb))
    }
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val unitOf = all.toMap
    def put(k: String, v: Double): Unit = out(k) = (v, unitOf.getOrElse(k, ""))
    val byLayer = pieces.groupBy(_.layer)
    for (l <- names) {
      val ps = byLayer.getOrElse(l, Nil)
      val st = ps.flatMap(_.stages)
      val jb = ps.flatMap(_.jobs)
      put(s"$l.wall_s", ps.map(_.wall).sum / 1000 / units)
      put(s"$l.self_s", ps.map(_.self).sum / 1000 / units)
      put(s"$l.cpu_s", st.map(_.cpuNs).sum / 1e9 / units)
      put(s"$l.wait_s", jb.filterNot(_.firstLaunch.isNaN)
        .map(j => math.max(0.0, j.firstLaunch - j.submitted)).sum / 1000 / units)
      put(s"$l.shuffle_bytes", st.map(_.shuffleWrite).sum / units)
      put(s"$l.spill_bytes", st.map(_.spill).sum / units)
      put(s"$l.gc_s", st.map(_.gcMs).sum / 1000.0 / units)
      put(s"$l.jobs", jb.size / units)
    }
    def c(k: String) = counts.getOrElse(k, 0.0) / units
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val skews = byLayer.getOrElse("matching.score", Nil).flatMap(_.stages)
      .filter(_.taskMs.nonEmpty).map { st =>
        val med = Stats.median(st.taskMs.map(_.toDouble).toSeq)
        if (med > 0) st.taskMs.max / med else 1.0
      }
    for ((k, _) <- counters) put(k, k match {
      case "matching.useful_frac" => ratio(c("matching.scored_out"), c("blocking.candidates"))
      case "dedup.useful_frac" => ratio(c("dedup.scored_out"), c("dedup.candidates"))
      case "setsim.useful_frac" => ratio(c("setsim.scored_out"), c("setsim.candidates"))
      case "matching.task_skew" => if (skews.isEmpty) 0.0 else skews.sum / skews.size
      case "io.bytes_written" =>
        byLayer.getOrElse("io", Nil).flatMap(_.stages).map(_.outBytes).sum / units
      case _ => c(k)
    })
    val wall = spans.filter(_.parent < 0).map(_.wall).sum / 1000 / units
    val exec = stagesBy.values.flatten.map(_.runMs).sum / 1000.0 / units
    val unattributed = pieces.filter(_.layer == "unattributed").map(_.self).sum / 1000 / units
    val unattributedExec = pieces.filter(_.layer == "unattributed")
      .flatMap(_.stages).map(_.runMs).sum / 1000.0 / units
    put("trace.units", units)
    put("trace.wall_s", wall)
    put("trace.executor_s", exec)
    put("unattributed_s", unattributed)
    put("unattributed_exec_frac", ratio(unattributedExec, exec))
    put("tracing_overhead_s", Stats.median(tracedS) - Stats.median(untracedS))
    out.toMap
  }
}

/** Host state around a run: what makes a noisy window visible. */
final class Host private (cpu0: Array[Long], load0: String) {
  def finish(spark: SparkSession): Map[String, String] = {
    val cpu1 = Host.cpuTimes()
    val d = cpu1.zip(cpu0).map { case (a, b) => a - b }
    val total = d.sum.toDouble
    val steal = if (d.length > 7 && total > 0) 100.0 * d(7) / total else Double.NaN
    val busy = if (d.length > 4 && total > 0) 100.0 * (total - d(3) - d(4)) / total else Double.NaN
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "steal_pct" -> f"$steal%.2f",
      "busy_pct" -> f"$busy%.1f",
      "loadavg_start" -> load0,
      "loadavg_end" -> Host.loadavg(),
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.mkString(" "),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "git_head" -> sys.env.getOrElse("PERFBENCH_GIT_HEAD", "unknown"),
      "source_sha" -> sys.env.getOrElse("PERFBENCH_SOURCE_SHA", "unknown"))
  }
}

object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(Paths.get(p)), "UTF-8"))
    catch { case _: Exception => None }

  /** The aggregate `cpu` line of /proc/stat, in jiffies. */
  def cpuTimes(): Array[Long] =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)

  def loadavg(): String =
    read("/proc/loadavg").map(_.trim.split("\\s+").take(3).mkString(" ")).getOrElse("unknown")

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)

  def start(): Host = new Host(cpuTimes(), loadavg())
}

/** Prints the metric table and the final JSON line, and writes the run
  * record (host, metrics, spans) under the work directory. */
final class Report(results: Seq[Result], host: Map[String, String], opts: Main.Opts,
    prefixed: Boolean) {

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** End-to-end metrics of a result: name -> (value, unit). */
  def endToEnd(r: Result): Seq[(String, Double, String)] = {
    val ok = r.runS.filterNot(_.isNaN)
    val p50 = Stats.median(ok)
    val tail = Stats.tail(ok)
    Seq(
      ("setup_s", r.setupS, "s"),
      ("first_run_s", r.firstS, "s"),
      ("run_s.p50", p50, "s"),
      ("run_s.tail", tail.map(_._2).getOrElse(Double.NaN), "s"),
      ("records_per_s", r.records / p50, "rec/s"),
      ("pairs_per_s", r.pairs / p50, "pairs/s"),
      ("peak_rss_mb", r.peakRssMb, "MB"),
      ("failed_frac", r.failed.toDouble / r.attempted, "ratio"))
  }

  /** The metrics the final line carries: the end-to-end set untraced,
    * the per-layer set traced. */
  private def contract(r: Result): Seq[(String, Double, String)] =
    if (r.trace) Layers.all.map { case (k, u) => (k, r.layers.get(k).map(_._1).getOrElse(0.0), u) }
    else endToEnd(r).filter { case (k, _, _) => Report.contract.contains(k) }

  def write(): Unit = {
    for (r <- results) {
      val ok = r.runS.filterNot(_.isNaN)
      println(s"== ${r.workload} (seed ${r.seed}, scale ${opts.scale}, local[${Main.Cores}]) ==")
      println(f"  input: ${r.records}%.0f records and ${r.pairs}%.0f reference candidate pairs per unit")
      for ((k, v, u) <- endToEnd(r)) {
        val note = k match {
          case "run_s.p50" => s" (n=${ok.size})"
          case "run_s.tail" => Stats.tail(ok).fold(s" (n=${ok.size}: needs 20 samples)")(t => s" (p${t._1}, n=${ok.size})")
          case "setup_s" => s" (input generation ${r.setupRepsS.map(x => f"$x%.2f").mkString("/")} s, median taken)"
          case "failed_frac" => s" (${r.failed} of ${r.attempted})"
          case _ => ""
        }
        println(f"  $k%-16s ${if (v.isNaN) "n/a" else f"$v%.4f"}%12s $u$note")
      }
      println(s"  outputs: " + r.reference.toSeq.sortBy(_._1).map { case (p, o) =>
        s"[$p] matches ${o.matches}; clusters ${o.clusters}" }.mkString(" | "))
      if (r.trace) {
        println(f"  ${"layer"}%-15s ${"wall_s"}%9s ${"self_s"}%9s ${"cpu_s"}%9s ${"wait_s"}%9s ${"shuffle_MB"}%10s ${"jobs"}%6s")
        for (l <- Layers.names) {
          def g(m: String) = r.layers.get(s"$l.$m").map(_._1).getOrElse(0.0)
          println(f"  $l%-15s ${g("wall_s")}%9.4f ${g("self_s")}%9.4f ${g("cpu_s")}%9.4f ${g("wait_s")}%9.4f ${g("shuffle_bytes") / 1e6}%10.3f ${g("jobs")}%6.1f")
        }
        def t(k: String) = r.layers.get(k).map(_._1).getOrElse(Double.NaN)
        val selfSum = Layers.names.map(l => t(s"$l.self_s")).sum + t("unattributed_s")
        println(f"  self_s sum + unattributed = ${selfSum}%.4f s; traced wall ${t("trace.wall_s")}%.4f s per unit")
        println(f"  unattributed ${t("unattributed_s")}%.4f s = ${100 * t("unattributed_s") / t("trace.executor_s")}%.2f%% of executor time ${t("trace.executor_s")}%.3f s")
        println(f"  tracing overhead ${t("tracing_overhead_s")}%.4f s (traced p50 ${Stats.median(r.tracedS.filterNot(_.isNaN))}%.4f s, ${r.tracedS.size} units)")
        for ((k, _) <- Layers.counters) println(f"  $k%-26s ${t(k)}%.4f")
      }
    }
    println("  host: " + host.toSeq.filterNot(_._1 == "jvm_flags").map { case (k, v) => s"$k=$v" }.mkString(", "))
    writeRecord()
    val attempted = results.map(_.attempted).sum
    val failed = results.map(_.failed).sum
    val metrics = results.flatMap { r =>
      contract(r).map { case (k, v, u) =>
        val name = if (prefixed) s"${r.workload}.$k" else k
        s"${str(name)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
      }
    }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
  }

  private def writeRecord(): Unit = {
    val dir = opts.work.resolve("results")
    Files.createDirectories(dir)
    for (r <- results) {
      val spans = r.spans.map(s =>
        s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "run": ${s.run}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}""")
      val e2e = endToEnd(r).map { case (k, v, u) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      val layers = r.layers.toSeq.sortBy(_._1).map { case (k, (v, u)) => s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }
      val json =
        s"""{"workload": ${str(r.workload)}, "seed": ${r.seed}, "scale": ${num(opts.scale)}, "trace": ${r.trace},
           | "host": {${host.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString(", ")}},
           | "run_s": [${r.runS.map(num).mkString(", ")}], "traced_s": [${r.tracedS.map(num).mkString(", ")}],
           | "end_to_end": {${e2e.mkString(", ")}},
           | "per_layer": {${layers.mkString(", ")}},
           | "outputs": {${r.reference.toSeq.sortBy(_._1).map { case (p, o) => s"\"$p\": {\"matches\": ${str(o.matches.toString)}, \"clusters\": ${str(o.clusters.toString)}}" }.mkString(", ")}},
           | "spans": [${spans.mkString(",\n  ")}]}
           |""".stripMargin
      Files.writeString(dir.resolve(s"${r.workload}-seed${r.seed}-trace${if (r.trace) 1 else 0}.json"), json)
    }
  }
}

object Report {
  /** The end-to-end metrics of the final line, as `BENCHMARK.json` lists
    * them. The table adds `first_run_s` (one cold sample, which swings with
    * the host more than the bound allows), `run_s.tail` (needs more samples
    * than a window holds) and `failed_frac` (the line's own failed over
    * attempted). */
  val contract: Set[String] =
    Set("setup_s", "run_s.p50", "records_per_s", "pairs_per_s", "peak_rss_mb")
}

package ctasbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** JVM entry of the benchmark; `run.py` starts it and reads the `RESULT`
  * line it prints last.
  *
  *   measure  --workload W --seed N --data DIR --seconds S --trace 0|1 [--pins FILE]
  *   pin      --seeds N,M,.. --data DIR    digest lines of the studies under DIR/<seed>
  *   selftest --data DIR --seed N [--pins FILE]   the benchmark's own tests, on the
  *            inputs of seed N under DIR/<workload>
  *
  * Every mode also takes --cores C and --work DIR (Spark's local working space).
  */
object Main {

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ctasbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      // A study pass compiles about 240 generated classes; with the default
      // cache of 100 every later pass compiled and JIT-warmed them again,
      // which was half of a warm pass and kept its time from settling. The
      // cold pass still compiles them all. Retaining fewer finished jobs
      // keeps the heap from growing pass after pass.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** seed -> pinned ctas_study digest line, from a `seed<TAB>line` file. */
  def readPins(path: Option[String]): Map[Long, String] =
    path.filter(p => Files.exists(Paths.get(p))).map { p =>
      Files.readAllLines(Paths.get(p)).asScala.filter(_.contains('\t')).map { l =>
        val Array(seed, line) = l.split('\t'); seed.toLong -> line
      }.toMap
    }.getOrElse(Map.empty)

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def workload = Workloads.all.getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val cores = opt("cores").toInt
    val work = opt("work")
    args.headOption match {
      case Some("measure") =>
        val pins = readPins(opts.get("pins"))
        emit(measure(opt("workload"), workload, cores, work, opt("data"), opt("seed").toLong,
          opt("seconds").toDouble, opt("trace") == "1", pins))
      case Some("pin") =>
        val spark = session(cores, work)
        opt("seeds").split(',').foreach { seed =>
          val o = CtasStudy.run(spark, CtasStudy.input(spark, s"${opt("data")}/$seed")).get
          println(s"$seed\t${CtasStudy.summarise(o)._1}")
        }
        stop(spark)
      case Some("selftest") =>
        val spark = session(cores, work)
        val failed = SelfTest.run(spark, opt("data"), work, cores, opt("seed").toLong, readPins(opts.get("pins")))
        stop(spark)
        if (failed > 0) sys.exit(1)
      case other =>
        System.err.println(s"unknown mode $other")
        sys.exit(2)
    }
  }

  /** Warm-up passes between the cold pass and the timed window: at least
    * four, then more until pass time stops falling or the workload's
    * maximum is reached. The study's many small jobs keep the JIT compiler
    * busy for longer than the crawl rollup does, so it may warm up longer.
    */
  val warmupMinPasses = 4
  val warmupMaxPasses = Map("ctas_study" -> 5, "rollup_crawl" -> 4)

  /** Timed passes in a window, however short `--seconds` is. */
  val timedMinPasses = 5

  /** Pass time has stopped falling when the last two warm-up passes
    * together took at least 97% of the two before them.
    */
  def steady(warm: Seq[Double]): Boolean =
    warm.size >= warmupMinPasses && warm.takeRight(2).sum >= 0.97 * warm.takeRight(4).take(2).sum

  /** One timed pass and its untimed checks; `compiles` counts the classes
    * Spark's code generator compiled during the pass.
    */
  final case class PassResult(secs: Double, verdict: Try[Verdict], layers: Map[String, Double],
      compiles: Long)

  /** Runs, times and checks one pass. A traced pass registers a listener
    * for its duration and splits its time into the workload's scopes;
    * `first` computes the checks' reference values after the pass.
    */
  def onePass(spark: SparkSession, name: String, runner: Runner, traced: Boolean, cores: Int,
      first: Boolean): PassResult = {
    val sc = spark.sparkContext
    val spans = new Spans(traced)
    val listener = new JobListener
    runner.reset()
    // each pass starts as a fresh job would: nothing left cached by the
    // pass before, and its garbage collected
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    if (traced) sc.addSparkListener(listener)
    val startMs = System.currentTimeMillis()
    val p0 = System.nanoTime()
    val jit = ManagementFactory.getCompilationMXBean
    val jit0 = jit.getTotalCompilationTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val run = Try(runner.pass(spans))
    val secs = (System.nanoTime() - p0) / 1e9
    val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val endMs = System.currentTimeMillis()
    val jobs = if (traced) {
      val j = listener.take(sc)
      sc.removeSparkListener(listener)
      Some(j)
    } else None
    if (first) runner.reference()
    val verdict = run.flatMap(check => Try(check()))
    val layers = for ((js, stages) <- jobs; v <- verdict.toOption) yield {
      val scope = name match {
        case "ctas_study" => Attribution.byCtasPhase(secs, startMs, js, stages)
        case "rollup_crawl" => Attribution.bySpans("rollup", secs, spans.spans.toSeq, js, stages)
        case _ =>
          val s = Attribution.bySpans("store", secs, spans.spans.toSeq, js, stages)
          val read = s("store.build_hourly.read_mb") + s("store.resume.read_mb")
          s + ("store.resume.read_ratio" -> (if (read > 0) s("store.resume.read_mb") / read else 0.0))
      }
      scope ++ Attribution.sparkTotals(secs, startMs, endMs, js, stages, cores) ++ v.counts ++
        Map("spark.persisted_rdds_after" -> sc.getPersistentRDDs.size.toDouble, "jvm.jit_s" -> jitS,
          "pass_s" -> secs)
    }
    PassResult(secs, verdict, layers.getOrElse(Map.empty), compiles)
  }

  /** Cold pass, the warm-up passes, then the timed window of `seconds`
    * and at least `timedMinPasses` passes; `steady` says whether pass time
    * had stopped falling by the end of the warm-up.
    * A traced run alternates untraced and traced passes in its window.
    */
  def measure(name: String, w: Workload, cores: Int, work: String, dir: String, seed: Long,
      seconds: Double, trace: Boolean, pins: Map[Long, String]): Map[String, Any] = {
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runner = w.open(spark, dir, seed, pins)
    val passes = ArrayBuffer.empty[(String, Double)]
    val failures = ArrayBuffer.empty[String]
    val traced = ArrayBuffer.empty[Map[String, Double]]
    var failed = 0
    var points = -1L
    var coldCompiles = 0L

    def once(kind: String, traceIt: Boolean): Option[Double] = {
      val r = onePass(spark, name, runner, traceIt, cores, first = kind == "cold")
      if (kind == "cold") coldCompiles = r.compiles
      val fs = r.verdict match {
        case Failure(e) => Seq(e.toString)
        case Success(v) =>
          if (points < 0) points = v.points
          v.failures ++ Workloads.expect(v.points == points, s"${v.points} points, the first pass had $points")
      }
      if (fs.nonEmpty) {
        failed += 1
        failures ++= fs.map(f => s"$kind pass ${passes.size}: $f")
      }
      passes += (if (r.verdict.isSuccess) kind else s"$kind-failed") -> r.secs
      if (r.layers.nonEmpty) traced += r.layers
      if (r.verdict.isSuccess) Some(r.secs) else None
    }

    val cold = once("cold", traceIt = false)
    val warm = ArrayBuffer.empty[Double]
    var tries = 0
    while (!steady(warm.toSeq) && tries < warmupMaxPasses(name)) {
      once("warm", traceIt = false).foreach(warm += _)
      tries += 1
    }
    val m0 = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - m0) / 1e9 < seconds || n < timedMinPasses) {
      val traceIt = trace && n % 2 == 1
      once(if (traceIt) "traced" else "timed", traceIt)
      n += 1
    }
    if (trace && name == "rollup_crawl") {
      // the tier store reads the same day-partitioned pages: a cold pass
      // (which also builds the checks' reference), then traced passes
      val store = TierStore.open(spark, dir, seed, pins)
      (0 until 3).foreach { k =>
        val r = onePass(spark, "tier_store", store, traced = k > 0, cores, first = k == 0)
        val fs = r.verdict.map(_.failures).recover { case e => Seq(e.toString) }.get
        if (fs.nonEmpty) { failed += 1; failures ++= fs.map(f => s"store pass $k: $f") }
        passes += (if (r.verdict.isSuccess) "store" else "store-failed") -> r.secs
        if (k > 0) traced += r.layers.filter(_._1.startsWith("store."))
      }
    }
    val rss = Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)
    stop(spark)
    Map("workload" -> name, "seed" -> seed, "session_s" -> sessionS,
      "cold_s" -> cold.getOrElse(-1.0), "steady" -> steady(warm.toSeq),
      "passes" -> passes.toSeq.map { case (k, s) => Seq(k, s) },
      "points" -> points, "attempted" -> passes.size, "failed" -> failed,
      "failures" -> failures.take(20).toSeq,
      "traced" -> traced.toSeq, "peak_rss_mb" -> rss, "cold_compiles" -> coldCompiles)
  }

  def emit(m: Map[String, Any]): Unit = {
    System.out.flush()
    println("RESULT " + Json(m))
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

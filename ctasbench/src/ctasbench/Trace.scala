package ctasbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One Spark job as the listener saw it (times in epoch milliseconds). */
final case class Job(id: Int, startMs: Long, endMs: Long, desc: String, stages: Seq[Int])

/** Task totals of one stage. */
final class StageTotals {
  var tasks, failedTasks, cpuNs, runMs, gcMs, shuffleWriteB, spillB, inputB, outputB = 0L
  def add(o: StageTotals): Unit = {
    tasks += o.tasks; failedTasks += o.failedTasks; cpuNs += o.cpuNs; runMs += o.runMs
    gcMs += o.gcMs; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    inputB += o.inputB; outputB += o.outputB
  }
}

/** Records jobs and per-stage task totals. Registered by the benchmark only
  * for traced passes, so untraced passes run without it.
  */
final class JobListener extends SparkListener {
  private val starts = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val ends = mutable.Map.empty[Int, Long]
  private val stages = mutable.Map.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
    starts(e.jobId) = (e.time, desc.getOrElse(""), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ends(e.jobId) = e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageTotals)
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead; s.outputB += m.outputMetrics.bytesWritten
    }
  }

  /** Waits for every posted event, then returns and forgets what was seen. */
  def take(sc: SparkContext): (Seq[Job], Map[Int, StageTotals]) = {
    org.apache.spark.ListenerDrain(sc)
    synchronized {
      val jobs = starts.toSeq.map { case (id, (st, desc, ss)) =>
        Job(id, st, ends.getOrElse(id, st), desc, ss)
      }.sortBy(j => (j.startMs, j.id))
      val out = (jobs, stages.toMap)
      starts.clear(); ends.clear(); stages.clear()
      out
    }
  }
}

/** Bench-side spans around calls into the program. When off, `apply`
  * only runs its body.
  */
final class Spans(val on: Boolean) {
  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)
  val spans = mutable.ArrayBuffer.empty[Span]
  def apply[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      val r = body
      spans += Span(name, ms, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
      r
    }
}

/** Splits one traced pass into named scopes whose times, with an
  * explicit `unattributed_s` remainder, add up to the pass wall time.
  */
object Attribution {

  /** Phase tags `CtasPipeline.processAStudy` sets, in pipeline order. */
  val ctasPhases: Seq[String] = Seq(
    "validate", "coverage", "autogen", "defs", "cells", "features", "kernels", "scores", "outputs")

  private def mb(b: Long): Double = b / 1e6

  /** Stage totals summed over `jobs`; a stage listed by several jobs ran
    * its tasks under the first, so it is counted once.
    */
  private def totals(jobs: Seq[Job], stages: Map[Int, StageTotals]): StageTotals = {
    val t = new StageTotals
    jobs.flatMap(_.stages).distinct.flatMap(stages.get).foreach(t.add)
    t
  }

  /** Each stage belongs to the earliest job that lists it. */
  private def ownStages(jobs: Seq[Job]): Seq[Job] = {
    val seen = mutable.Set.empty[Int]
    jobs.map(j => j.copy(stages = j.stages.filter(seen.add)))
  }

  /** Scopes from bench spans: a job belongs to the span it started in. */
  def bySpans(prefix: String, wallS: Double, spans: Seq[Spans#Span], allJobs: Seq[Job],
      stages: Map[Int, StageTotals]): Map[String, Double] = {
    val jobs = ownStages(allJobs)
    val out = mutable.LinkedHashMap.empty[String, Double]
    spans.foreach { s =>
      val js = jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
      val t = totals(js, stages)
      val p = s"$prefix.${s.name}"
      out(s"$p.wall_s") = out.getOrElse(s"$p.wall_s", 0.0) + s.seconds
      out(s"$p.jobs") = out.getOrElse(s"$p.jobs", 0.0) + js.size
      out(s"$p.cpu_s") = out.getOrElse(s"$p.cpu_s", 0.0) + t.cpuNs / 1e9
      out(s"$p.shuffle_write_mb") = out.getOrElse(s"$p.shuffle_write_mb", 0.0) + mb(t.shuffleWriteB)
      out(s"$p.written_mb") = out.getOrElse(s"$p.written_mb", 0.0) + mb(t.outputB)
      out(s"$p.read_mb") = out.getOrElse(s"$p.read_mb", 0.0) + mb(t.inputB)
    }
    out(s"$prefix.unattributed_s") = wallS - spans.map(_.seconds).sum
    out.toMap
  }

  /** Scopes from the study's `ctas:<phase>` job tags. A phase runs from
    * the start of its first job to the start of the next phase's first
    * job; the last phase ends with the pass's last job, and a phase that
    * starts no job of its own reads 0. Jobs before the first tag belong to
    * `validate`.
    *
    * The validation probes and the output checkpoints run on pool threads,
    * whose tag is whatever the thread inherited when it was created: none,
    * or one from an earlier pass. So `validate` is left only by the first
    * `coverage` job, which the pipeline runs on the calling thread; after
    * that a tag only moves the phase forward, and a job without a tag can
    * only be an output checkpoint, so it starts `outputs`.
    *
    * The pipeline sets each tag just before that phase's emptiness probe,
    * so a scope holds the probe and the work up to the next tag:
    * `validate` also holds reading the three input tables; `defs` holds
    * the eager `cells` and `liveDefs` local checkpoints (the study's big
    * shuffle); `cells` holds only the `liveDefs` probe; the scalar
    * features start no job of their own and run inside `kernels`, so
    * `features` is not reported.
    */
  def byCtasPhase(wallS: Double, passStartMs: Long, allJobs: Seq[Job],
      stages: Map[Int, StageTotals]): Map[String, Double] = {
    val jobs = ownStages(allJobs)
    val phaseOf = mutable.ArrayBuffer.empty[Int]
    val startOf = Array.fill(ctasPhases.size)(-1L)
    startOf(0) = passStartMs
    var cur = 0
    val outputs = ctasPhases.size - 1
    jobs.foreach { j =>
      val i = if (j.desc.startsWith("ctas:")) ctasPhases.indexOf(j.desc.stripPrefix("ctas:")) else -1
      val next = if (cur == 0) (if (i == 1) 1 else 0) else if (i < 0) outputs else math.max(cur, i)
      if (next > cur) { cur = next; startOf(cur) = j.startMs }
      phaseOf += cur
    }
    val lastEnd = if (jobs.isEmpty) passStartMs else jobs.map(_.endMs).max
    val started = ctasPhases.indices.filter(startOf(_) >= 0)
    val out = mutable.LinkedHashMap.empty[String, Double]
    ctasPhases.indices.foreach { i =>
      val next = started.find(_ > i).map(startOf).getOrElse(lastEnd)
      val wall = if (startOf(i) < 0) 0.0 else (next - startOf(i)) / 1e3
      out(s"ctas.${ctasPhases(i)}.wall_s") = wall
      out(s"ctas.${ctasPhases(i)}.jobs") = phaseOf.count(_ == i).toDouble
    }
    out("ctas.unattributed_s") = wallS - ctasPhases.map(p => out(s"ctas.$p.wall_s")).sum
    out.toMap
  }

  /** Whole-pass Spark totals. `gap_s` is the pass time during which no
    * job ran; `par_eff` is task run time over the pass's core-seconds.
    */
  def sparkTotals(wallS: Double, passStartMs: Long, passEndMs: Long, jobs: Seq[Job],
      stages: Map[Int, StageTotals], cores: Int): Map[String, Double] = {
    val t = totals(jobs, stages)
    var busy = 0L
    var reach = passStartMs
    jobs.sortBy(_.startMs).foreach { j =>
      val s = math.max(j.startMs, reach)
      val e = math.min(j.endMs, passEndMs)
      if (e > s) busy += e - s
      reach = math.max(reach, e)
    }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.failed_tasks" -> t.failedTasks.toDouble,
      "spark.gap_s" -> math.max(0.0, wallS - busy / 1e3),
      "spark.cpu_s" -> t.cpuNs / 1e9,
      "spark.gc_s" -> t.gcMs / 1e3,
      "spark.shuffle_write_mb" -> mb(t.shuffleWriteB),
      "spark.spill_mb" -> mb(t.spillB),
      "spark.par_eff" -> t.runMs / 1e3 / (wallS * cores))
  }
}

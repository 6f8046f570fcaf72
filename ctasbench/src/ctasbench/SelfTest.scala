package ctasbench

import graft.rollup.{TierBuilder, Tiers}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** The benchmark's own tests: attribution adds up, every workload's
  * outputs pass their checks, and each check fails on a mutated output.
  * Prints one PASS/FAIL line per test; returns the number failed.
  */
object SelfTest {

  def run(spark: SparkSession, dir: String, work: String, cores: Int, seed: Long,
      pins: Map[Long, String]): Int = {
    var failed = 0
    def test(name: String)(body: => Boolean): Unit = {
      val ok = Try(body) match {
        case Success(b) => b
        case Failure(e) => println(s"  $name: ${e.toString.take(300)}"); false
      }
      println(s"${if (ok) "PASS" else "FAIL"} $name")
      if (!ok) failed += 1
    }
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

    test("ctas attribution: stale pool-thread tags do not move the phase; scopes sum to the pass") {
      val jobs = Seq(
        Job(1, 1000, 1100, "", Nil),
        Job(2, 1050, 1200, "ctas:outputs", Nil), // probe on a pool thread from an earlier pass
        Job(3, 1300, 1400, "ctas:coverage", Nil),
        Job(4, 1500, 1600, "ctas:autogen", Nil),
        Job(5, 1650, 1700, "ctas:validate", Nil),
        Job(6, 1800, 2500, "ctas:scores", Nil),
        Job(7, 2000, 2600, "", Nil), // output checkpoint on a pool thread
        Job(8, 2100, 2700, "ctas:outputs", Nil))
      val m = Attribution.byCtasPhase(3.0, 1000, jobs, Map.empty)
      val walls = Attribution.ctasPhases.map(p => m(s"ctas.$p.wall_s"))
      Seq(2, 1, 2, 0, 0, 0, 0, 1, 2) == Attribution.ctasPhases.map(p => m(s"ctas.$p.jobs").toInt) &&
        close(m("ctas.validate.wall_s"), 0.3) && close(m("ctas.scores.wall_s"), 0.2) &&
        close(m("ctas.outputs.wall_s"), 0.7) && close(walls.sum + m("ctas.unattributed_s"), 3.0)
    }

    test("span attribution: jobs go to the span they start in; scopes sum to the pass") {
      val spans = new Spans(true)
      val s = Seq(spans.Span("a", 1000, 1500, 0.5), spans.Span("b", 1500, 1900, 0.4))
      val m = Attribution.bySpans("x", 1.0, s, Seq(Job(1, 1100, 1400, "", Nil),
        Job(2, 1600, 1800, "", Nil), Job(3, 1700, 1800, "", Nil)), Map.empty)
      m("x.a.jobs") == 1 && m("x.b.jobs") == 2 &&
        close(m("x.a.wall_s") + m("x.b.wall_s") + m("x.unattributed_s"), 1.0)
    }

    // a real traced pass of every workload
    Seq(("rollup_crawl", RollupCrawl, "rollup"), ("ctas_study", CtasStudy, "ctas"),
      ("tier_store", TierStore, "store")).foreach { case (name, workload, prefix) =>
        val input = if (name == "tier_store") "rollup_crawl" else name
        val runner = workload.open(spark, s"$dir/$input", seed, pins)
        val r = Main.onePass(spark, name, runner, traced = true, cores, first = true)
        test(s"$name: outputs pass every check") {
          r.verdict.get.failures.foreach(f => println(s"  $f"))
          r.verdict.get.failures.isEmpty
        }
        test(s"$name: traced scopes plus unattributed_s sum to the pass time") {
          val walls = r.layers.collect { case (k, v) if k.startsWith(prefix + ".") && k.endsWith(".wall_s") => v }
          walls.nonEmpty && math.abs(walls.sum + r.layers(s"$prefix.unattributed_s") - r.secs) < 1e-6
        }
        if (name == "ctas_study") test("ctas_study: the four output checkpoints count under outputs") {
          r.layers("ctas.outputs.jobs") >= 4
        }
    }

    // rollup_crawl: each check fails on a mutated tier
    {
      import RollupCrawl._
      val pages = spark.read.parquet(s"$dir/rollup_crawl")
      val e = recount(pages)
      val (h0, daily) = tiers(pages)
      val hourly = h0.persist()
      val base = Summary(hourlySummary(hourly), tierSummary(daily),
        tierSummary(Tiers.rollup(daily, "daily", "weekly")), flagSummary(Tiers.anomalyFlags(daily)))
      val first = hourly.orderBy("series_id", "bucket").head()
      val isFirst = col("series_id") === first.getString(0) && col("bucket") === first.getLong(1)
      test("rollup_crawl: unmutated tiers pass") { check(e, base).isEmpty }
      test("rollup_crawl: a dropped hourly row fails") {
        check(e, base.copy(hourly = hourlySummary(hourly.filter(!isFirst)))).nonEmpty
      }
      test("rollup_crawl: a lost page fails") {
        val pph = hourly.filter(col("series_id").startsWith("pages_per_hour|")).head()
        check(e, base.copy(hourly = hourlySummary(hourly.withColumn("sum",
          when(col("series_id") === pph.getString(0) && col("bucket") === pph.getLong(1),
            col("sum") - 1).otherwise(col("sum")))))).nonEmpty
      }
      test("rollup_crawl: an inexact extraction fails") {
        check(e, base.copy(hourly = hourlySummary(hourly.withColumn("min",
          when(col("series_id").startsWith("extract_ok|"), lit(0.5)).otherwise(col("min")))))).nonEmpty
      }
      test("rollup_crawl: a flipped flag fails") {
        val flags = Tiers.anomalyFlags(daily)
        check(e, base.copy(flags = flagSummary(flags.withColumn("flag_spike",
          when(col("series_id") === s"text_length|$spikeHost", !col("flag_spike"))
            .otherwise(col("flag_spike")))))).nonEmpty
      }
      hourly.unpersist()
    }

    // ctas_study: the pin and each check
    {
      val o = CtasStudy.run(spark, CtasStudy.input(spark, s"$dir/ctas_study")).get
      val (line, fs) = CtasStudy.check(o, pins.get(seed))
      test(s"ctas_study: outputs match the pinned digests of seed $seed") { pins.contains(seed) && fs.isEmpty }
      test("ctas_study: a dropped feature row fails") {
        val n = o.timeseriesFeatures.count().toInt
        CtasStudy.check(o.copy(timeseriesFeatures = o.timeseriesFeatures.limit(n - 1)), Some(line))._2.nonEmpty
      }
      test("ctas_study: an empty output fails") {
        CtasStudy.check(o.copy(pcaCoordinates = o.pcaCoordinates.limit(0)), None)._2.nonEmpty
      }
      test("ctas_study: a p-value above 1 fails") {
        CtasStudy.check(o.copy(siteScores = o.siteScores.withColumn("pvalue_kstest_logp", lit(-0.1))),
          Some(line))._2.nonEmpty
      }
    }

    // tier_store: each check fails on a mutated store
    {
      import TierStore._
      val root = s"$work/selftest-store"
      Workloads.deleteTree(root)
      val pages = spark.read.parquet(s"$dir/rollup_crawl")
      val ref = reference(spark, pages, s"$root-ref")
      val o = pass(spark, pages, root, new Spans(false))
      test("tier_store: an unmutated store passes") { check(spark, root, ref, o)._1.isEmpty }
      test("tier_store: a truncated Gorilla chunk fails") {
        val chunks = Tiers.compressChunks(TierBuilder.readHourly(spark, root))
        val victim = chunks.agg(min("series_id")).head().getString(0)
        val cut = chunks.withColumn("chunk", when(col("series_id") === victim,
          substring(col("chunk"), lit(1), length(col("chunk")) - 1)).otherwise(col("chunk")))
        Try(Workloads.digest(Tiers.decompressChunks(cut), avgCols)) match {
          case Success(d) => check(spark, root, ref, o.copy(decoded = d))._1.nonEmpty
          case Failure(_) => true
        }
      }
      test("tier_store: a lost data file fails") {
        val day = Files.list(Paths.get(root, "data")).iterator().asScala
          .map(_.getFileName.toString).filter(d => d.startsWith("day=") && !expired(d)).toSeq.min
        val file = Files.list(Paths.get(root, "data", day)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.delete(file)
        val back = Workloads.digest(TierBuilder.readHourly(spark, root), hourlyCols)
        check(spark, root, ref, o.copy(readback = back))._1.nonEmpty
      }
      Workloads.deleteTree(root)
    }
    failed
  }
}

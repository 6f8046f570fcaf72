package ctasbench

import graft.ctas.{CtasConfig, CtasInput, CtasOutputs, CtasPipeline}
import graft.rollup.{GapFill, SeriesDerive, TierBuilder, Tiers}
import graft.store.SnapshotStore
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What the untimed checks found after one pass. `counts` holds the
  * per-layer counts the pass produced.
  */
final case class Verdict(points: Long, failures: Seq[String], counts: Map[String, Double] = Map.empty)

/** One workload bound to its materialised input inside one JVM. */
trait Runner {
  /** Untimed preparation before each pass (e.g. clearing a store). */
  def reset(): Unit = ()

  /** The timed pass. With `spans.on` every layer boundary becomes its own
    * bench-side action; the returned function runs the untimed checks.
    */
  def pass(spans: Spans): () => Verdict

  /** Untimed reference values the checks compare against; runs once,
    * after the cold pass.
    */
  def reference(): Unit = ()
}

trait Workload {
  def open(spark: SparkSession, dir: String, seed: Long, pins: Map[Long, String]): Runner
}

object Workloads {
  /** The benchmark's workloads. The tier store is timed inside traced
    * rollup_crawl runs only (see BENCHMARK.json).
    */
  val all: Map[String, Workload] = Map("rollup_crawl" -> RollupCrawl, "ctas_study" -> CtasStudy)

  def one(df: DataFrame, cols: Column*): Row = df.agg(cols.head, cols.tail: _*).head()

  /** Order-independent digest of a frame's rows: count and XOR of row hashes. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val r = one(df, count(lit(1)), coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))
    (r.getLong(0), r.getLong(1))
  }

  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  def expect(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)
}

import Workloads._

/** Crawl pages -> derive -> selective gap-fill -> hourly -> daily ->
  * weekly + anomaly flags: the headline rollup chain.
  */
object RollupCrawl extends Workload {
  /** Metrics a missing hour leaves unchanged, so gap-fill carries them. */
  private val continuous =
    col("series_id").startsWith("text_length") || col("series_id").startsWith("quality") ||
      col("series_id").startsWith("lang_match")

  /** Crawl start, 2025-01-06 00:00 UTC, as in gen.py. */
  val startEpoch = 1736121600L
  /** gen.py's hosts with a constant body and with one day of huge pages. */
  val flatHost = "host0.com"
  val spikeHost = "host3.de"

  final case class Expected(pages: Long, hourly: Long, daily: Long, weekly: Long, flags: Long)

  /** Tier row counts recomputed from the pages with plain Catalyst: per
    * host, the four count-like metrics have one row per observed bucket
    * and the three continuous metrics one per bucket of their gap-filled
    * span.
    */
  def recount(pages: DataFrame): Expected = {
    val h = floor((unix_seconds(col("warc_ts")) - startEpoch) / 3600)
    val perHost = pages
      .select(regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host"), h.as("h"))
      .groupBy("host")
      .agg(count(lit(1)).as("pages"), min("h").as("lo"), max("h").as("hi"),
        countDistinct(col("h")).as("hours"),
        countDistinct(floor(col("h") / 24)).as("days"),
        countDistinct(floor(col("h") / 168)).as("weeks"))
    def span(width: Int) = floor(col("hi") / width) - floor(col("lo") / width) + 1
    val r = one(perHost, sum("pages"),
      sum(col("hours") * 4 + span(1) * 3), sum(col("days") * 4 + span(24) * 3),
      sum(col("weeks") * 4 + span(168) * 3), count(lit(1)) * 7)
    Expected(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** The chain up to the hourly and daily tiers. `stage` sees the derive
    * and gap-fill outputs by name and may materialise them.
    */
  def tiers(pages: DataFrame, stage: (String, DataFrame) => DataFrame = (_, df) => df)
      : (DataFrame, DataFrame) = {
    val series = stage("derive", SeriesDerive.hostSeriesRich(pages))
    val dense = stage("gapfill", GapFill.densifyLocf(
      series.withColumn("bucket", col("hour_rank").cast("long")),
      Seq("series_id"), "bucket", "value", "v", continuous)
      .select(col("series_id"), col("bucket").as("hour_rank"), col("v").as("value")))
    val hourly = Tiers.hourly(dense, "series_id", "hour_rank", "value")
    (hourly, Tiers.rollup(hourly, "hourly", "daily"))
  }

  /** One aggregate row per tier: what the checks need from each output. */
  final case class Summary(hourly: Row, daily: Row, weekly: Row, flags: Row) {
    def points: Long = Seq(hourly, daily, weekly, flags).map(_.getLong(0)).sum
  }

  def hourlySummary(hourly: DataFrame): Row = {
    val extractOk = col("series_id").startsWith("extract_ok|")
    one(hourly, count(lit(1)), sum("n"),
      sum(when(col("series_id").startsWith("pages_per_hour|"), col("sum"))),
      min(when(extractOk, col("min"))), max(when(extractOk, col("max"))))
  }

  def tierSummary(tier: DataFrame): Row = one(tier, count(lit(1)), sum("n"))

  def flagSummary(flags: DataFrame): Row = {
    def flag(host: String, name: String): Column =
      max(when(col("series_id") === s"text_length|$host", col(name).cast("int")))
    one(flags, count(lit(1)),
      flag(flatHost, "flag_flat"), flag(flatHost, "flag_repeated_values"), flag(spikeHost, "flag_spike"))
  }

  def check(e: Expected, s: Summary): Seq[String] = {
    val Summary(h, d, w, f) = s
    Seq("hourly" -> (h, e.hourly), "daily" -> (d, e.daily), "weekly" -> (w, e.weekly),
      "flag" -> (f, e.flags)).flatMap { case (t, (r, want)) =>
      expect(r.getLong(0) == want, s"$t rows ${r.getLong(0)} != recount $want")
    } ++
    expect(!h.isNullAt(2) && math.abs(h.getDouble(2) - e.pages) < 1e-6,
      s"pages_per_hour sums to ${h.get(2)}, not ${e.pages} pages") ++
    expect(h.get(1) == d.get(1) && d.get(1) == w.get(1),
      s"n not conserved: hourly ${h.get(1)}, daily ${d.get(1)}, weekly ${w.get(1)}") ++
    expect(!h.isNullAt(3) && h.getDouble(3) == 1.0 && h.getDouble(4) == 1.0,
      s"extract_ok spans [${h.get(3)}, ${h.get(4)}], not exactly 1.0") ++
    expect(f.get(1) == 1 && f.get(2) == 1,
      s"flat host not flagged (flat=${f.get(1)}, repeated=${f.get(2)})") ++
    expect(f.get(3) == 1, s"spike host not flagged (spike=${f.get(3)})")
  }

  def open(spark: SparkSession, dir: String, seed: Long, pins: Map[Long, String]): Runner =
    new Runner {
      private var expected: Expected = _

      override def reference(): Unit = expected = recount(spark.read.parquet(dir))

      def pass(spans: Spans): () => Verdict = {
        val staged = collection.mutable.ArrayBuffer.empty[DataFrame]
        val rowsOut = collection.mutable.Map.empty[String, Double]
        def stage(name: String, df: DataFrame): DataFrame =
          if (!spans.on) df
          else {
            staged += df.persist(StorageLevel.MEMORY_AND_DISK)
            rowsOut(s"rollup.$name.rows_out") = spans(name)(df.count()).toDouble
            df
          }
        val (h0, d0) = tiers(spark.read.parquet(dir), stage)
        val hourly = h0.persist(StorageLevel.MEMORY_AND_DISK)
        val daily = d0.persist(StorageLevel.MEMORY_AND_DISK)
        val h = spans("hourly")(hourlySummary(hourly))
        val d = spans("daily")(tierSummary(daily))
        val (w, f) = spans("tail")(
          (tierSummary(Tiers.rollup(daily, "daily", "weekly")), flagSummary(Tiers.anomalyFlags(daily))))
        (staged ++ Seq(hourly, daily)).foreach(_.unpersist(false))

        () => {
          val s = Summary(h, d, w, f)
          Verdict(s.points, check(expected, s), rowsOut.toMap ++ Map("rollup.hourly.rows_out" -> h.getLong(0).toDouble,
              "rollup.daily.rows_out" -> d.getLong(0).toDouble,
              "rollup.tail.rows_out" -> (w.getLong(0) + f.getLong(0)).toDouble))
        }
      }
    }
}

/** `CtasPipeline.processAStudy` on one seeded clinical-shaped study. */
object CtasStudy extends Workload {
  private def emptyTable(spark: SparkSession, cols: String*): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](),
      StructType(cols.map(StructField(_, StringType))))

  /** The materialised study; the two custom tables are empty. */
  def input(spark: SparkSession, dir: String): CtasInput =
    CtasInput(spark.read.parquet(s"$dir/subjects"), spark.read.parquet(s"$dir/parameters"),
      spark.read.parquet(s"$dir/data"),
      emptyTable(spark, "timeseries_id", "parameter_id", "timepoint_combo"),
      emptyTable(spark, "parameter_id", "feature", "ref_group"))

  /** The study call. `CtasPipeline` leaves its last phase tag on the
    * calling thread, so it is cleared before anything else runs.
    */
  def run(spark: SparkSession, in: CtasInput): Option[CtasOutputs] =
    try CtasPipeline.processAStudy(in, CtasConfig())
    finally spark.sparkContext.setJobDescription(null)

  private val outputs = Seq("timeseries", "features", "pca", "site_scores")
  private val siteCols = Seq("pvalue_kstest_logp", "fdr_corrected_pvalue_logp", "kstest_statistic")

  /** Per output, in one job: "name=rows:digest" of its non-floating
    * columns (the digest line a pinned seed must reproduce), and over the
    * site scores the smallest -log10 p-values and the KS statistic range.
    */
  def summarise(o: CtasOutputs): (String, Seq[Option[Double]]) = {
    val frames = Seq(o.timeseries, o.timeseriesFeatures, o.pcaCoordinates, o.siteScores)
    val rows = frames.zip(outputs).map { case (df, n) =>
      val keys = df.schema.fields.filterNot(f => Set("double", "float")(f.dataType.typeName))
      df.select(lit(n).as("output") +: xxhash64(keys.map(f => col(f.name)).toSeq: _*).as("h") +:
        siteCols.map(c => (if (n == "site_scores") col(c) else lit(null)).cast("double").as(c)): _*)
    }.reduce(_ unionByName _)
      .groupBy("output")
      .agg(count(lit(1)), bit_xor(col("h")), min(siteCols(0)), min(siteCols(1)),
        min(siteCols(2)), max(siteCols(2)))
      .collect().map(r => r.getString(0) -> r).toMap
    val line = outputs.map(n => rows.get(n).fold(s"$n=0:0")(r => s"$n=${r.getLong(1)}:${r.getLong(2)}"))
    val sites = rows.get("site_scores").toSeq.flatMap(r =>
      (3 to 6).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
    (line.mkString(" "), if (sites.isEmpty) Seq.fill(4)(None) else sites)
  }

  /** `want` is the seed's pinned digest line, or the first pass's. */
  def check(o: CtasOutputs, want: Option[String]): (String, Seq[String]) = {
    val (got, Seq(p, padj, ksMin, ksMax)) = summarise(o)
    (got,
      got.split(" ").toSeq.flatMap(d =>
        expect(!d.contains("=0:"), s"output ${d.takeWhile(_ != '=')} is empty")) ++
      expect(want.forall(_ == got), s"outputs [$got] differ from [${want.getOrElse("")}]") ++
      expect(p.forall(_ >= 0.0), s"a KS p-value exceeds 1 (-log10 p = $p)") ++
      expect(padj.forall(_ >= 0.0), s"an adjusted p-value exceeds 1 (-log10 p = $padj)") ++
      expect(ksMin.forall(_ >= 0.0) && ksMax.forall(_ <= 1.0),
        s"a KS statistic lies outside [0, 1]: [$ksMin, $ksMax]"))
  }

  def open(spark: SparkSession, dir: String, seed: Long, pins: Map[Long, String]): Runner =
    new Runner {
      private var points = -1L
      private var first: Option[String] = None

      /** Reads the study inside the pass, as rollup_crawl reads its pages,
        * so the cold pass includes the first reads of the JVM.
        */
      def pass(spans: Spans): () => Verdict = {
        val in = input(spark, dir)
        val out = run(spark, in)
        () => {
          if (points < 0) points = in.data.filter(col("result").isNotNull).count()
          out match {
            case None => Verdict(points, Seq("processAStudy returned no outputs"))
            case Some(o) =>
              val (got, failures) = check(o, pins.get(seed).orElse(first))
              if (first.isEmpty) first = Some(got)
              Verdict(points, failures)
          }
        }
      }
    }
}

/** Day-batched hourly build with an injected crash and a resume, the
  * daily and weekly tiers, expiry of the oldest week, a committed
  * readback and a Gorilla round trip, all through the snapshot store.
  */
object TierStore extends Workload {
  val daysPerJob = 14
  /** The crash comes after this many committed batches. */
  val crashAfter = 1
  /** Retention drops the oldest week, 2025-01-06 .. 2025-01-12. */
  val keepFrom = "2025-01-13"

  val hourlyCols: Seq[String] = Seq("series_id", "bucket", "n", "sum", "sumsq", "min", "max")
  val avgCols: Seq[String] = Seq("series_id", "bucket", "avg")

  def expired(name: String): Boolean =
    if (name.startsWith("day=")) name.stripPrefix("day=") < keepFrom else name == "week=0"

  def stores(root: String): Seq[String] = Seq(root, s"$root/tier_daily", s"$root/tier_weekly")

  /** Per day of an uninterrupted hourly build: (rows, digest). */
  def reference(spark: SparkSession, pages: DataFrame, refRoot: String): Map[String, (Long, Long)] = {
    deleteTree(refRoot)
    TierBuilder.buildHourly(spark, pages, refRoot, resume = false, daysPerJob = daysPerJob)
    val ref = spark.read.parquet(s"$refRoot/data")
      .groupBy(col("day").cast("string"))
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(hourlyCols.map(col): _*)), lit(0L)))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    deleteTree(refRoot)
    ref
  }

  /** What one pass did, as the checks see it. */
  final case class Outcome(
      crash: Option[Throwable],
      before: Set[String],
      beforeRows: Long,
      resumed: TierBuilder.BuildReport,
      daily: TierBuilder.BuildReport,
      weekly: TierBuilder.BuildReport,
      readback: (Long, Long),
      chunkBytes: Long,
      decoded: (Long, Long)) {
    def points: Long = beforeRows + resumed.totalPoints + daily.totalPoints + weekly.totalPoints
  }

  /** One pass against the store at `root`, which must not exist yet. */
  def pass(spark: SparkSession, pages: DataFrame, root: String, spans: Spans): Outcome = {
    val (crash, committed) = spans("build_hourly") {
      val crash =
        try {
          TierBuilder.buildHourly(spark, pages, root, failAfter = crashAfter, daysPerJob = daysPerJob)
          None
        } catch { case e: RuntimeException => Some(e) }
      (crash, new SnapshotStore(root).latestSnapshot().map(_.partitions).getOrElse(Nil))
    }
    val resumed = spans("resume")(TierBuilder.buildHourly(spark, pages, root, daysPerJob = daysPerJob))
    val daily = spans("build_daily")(
      TierBuilder.buildCoarse(spark, root, "daily", partitionsPerJob = 0))
    val weekly = spans("build_weekly")(TierBuilder.buildCoarse(spark, root, "weekly"))
    spans("expire")(stores(root).foreach(s => new SnapshotStore(s).expire(expired)))
    val readback = spans("read")(digest(TierBuilder.readHourly(spark, root), hourlyCols))
    val (chunkBytes, decoded) = spans("gorilla") {
      val chunks = Tiers.compressChunks(TierBuilder.readHourly(spark, root))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bytes = one(chunks, coalesce(sum(length(col("chunk"))), lit(0L))).getLong(0)
      val d = digest(Tiers.decompressChunks(chunks), avgCols)
      chunks.unpersist(false)
      (bytes, d)
    }
    Outcome(crash, committed.map(_.name).toSet, committed.map(_.rows).sum, resumed, daily, weekly,
      readback, chunkBytes, decoded)
  }

  /** Checks one pass against the uninterrupted reference; also returns
    * the committed bytes per committed point left after expiry.
    */
  def check(spark: SparkSession, root: String, ref: Map[String, (Long, Long)], o: Outcome)
      : (Seq[String], Double) = {
    val kept = ref.filter(_._1 >= keepFrom).values
    val want = (kept.map(_._1).sum, kept.map(_._2).foldLeft(0L)(_ ^ _))
    val tier = digest(Tiers.withDerived(TierBuilder.readHourly(spark, root)), avgCols)
    val manifests = stores(root).map(s =>
      new SnapshotStore(s).latestSnapshot().map(_.partitions).getOrElse(Nil))
    val counted = Seq(o.readback._1,
      TierBuilder.readCoarse(spark, root, "daily").count(),
      TierBuilder.readCoarse(spark, root, "weekly").count())
    val hourlyPoints = o.beforeRows + o.resumed.totalPoints
    val failures =
      expect(o.crash.exists(e => String.valueOf(e.getMessage).startsWith("injected failure")),
        s"the injected crash did not happen: ${o.crash}") ++
      expect(o.before.size == crashAfter * daysPerJob,
        s"${o.before.size} days committed before the crash, not ${crashAfter * daysPerJob}") ++
      expect(o.resumed.skippedPartitions.toSet == o.before &&
        o.resumed.builtPartitions.size == ref.size - o.before.size,
        s"resume skipped ${o.resumed.skippedPartitions.size} and built " +
          s"${o.resumed.builtPartitions.size} of ${ref.size} days") ++
      expect(hourlyPoints == ref.values.map(_._1).sum,
        s"hourly build committed $hourlyPoints points, uninterrupted ${ref.values.map(_._1).sum}") ++
      expect(o.readback == want, s"readback after expiry ${o.readback} != uninterrupted kept days $want") ++
      expect(o.decoded == tier, s"Gorilla round trip ${o.decoded} != tier $tier") ++
      manifests.zip(counted).zip(Seq("hourly", "daily", "weekly")).flatMap { case ((m, c), t) =>
        expect(m.map(_.rows).sum == c, s"$t manifest lists ${m.map(_.rows).sum} rows, data has $c") ++
        expect(m.nonEmpty && !m.exists(p => expired(p.name)), s"$t manifest is empty or keeps expired data")
      }
    val bytes = stores(root).zip(manifests).map { case (s, m) =>
      m.map(p => bytesUnder(Paths.get(s, "data", p.name))).sum
    }.sum
    (failures, bytes.toDouble / math.max(1L, manifests.map(_.map(_.rows).sum).sum))
  }

  def open(spark: SparkSession, dir: String, seed: Long, pins: Map[Long, String]): Runner =
    new Runner {
      private val root = s"$dir.store"
      private def pages = spark.read.parquet(dir)
      private var ref: Map[String, (Long, Long)] = Map.empty

      override def reset(): Unit = deleteTree(root)

      override def reference(): Unit = ref = TierStore.reference(spark, pages, s"$dir.store_ref")

      def pass(spans: Spans): () => Verdict = {
        val o = TierStore.pass(spark, pages, root, spans)
        () => {
          val (failures, bytesPerPoint) = check(spark, root, ref, o)
          Verdict(o.points, failures,
            Map("store.stored_bytes_per_point" -> bytesPerPoint,
              "store.resume.rebuilt_partitions" -> o.resumed.builtPartitions.size.toDouble,
              "store.gorilla.bits_per_point" -> o.chunkBytes * 8.0 / math.max(1L, o.decoded._1)))
        }
      }
    }
}

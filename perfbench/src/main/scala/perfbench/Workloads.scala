package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{LogGen, ParseMetrics, Pipeline}
import graft.queries.{MahjongAnalytics, Scratch}
import graft.streaming.StreamingPipeline

/** mjlog corpora written by `LogGen` into `<root>/<YYYYMMDD>/<id>.xml`,
  * and the parser-free reference counts the ETL outputs are checked
  * against.
  */
object Corpus {
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)
  private val Basic = DateTimeFormatter.BASIC_ISO_DATE

  /** Write `perDate` games into the date dir of day `day`; `firstIdx`
    * numbers the games so that game ids are unique across dates.
    */
  def writeDate(root: Path, rng: Random, day: Int, perDate: Int, firstIdx: Int): Path = {
    val date = FirstDay.plusDays(day).format(Basic)
    val dir = Files.createDirectories(root.resolve(date))
    for (g <- 0 until perDate)
      Files.writeString(dir.resolve(f"$date$g%05dgm.xml"), LogGen.genGame(rng, firstIdx + g))
    dir
  }

  /** Files, bytes and `<INIT`, `<AGARI`, `<RYUUKYOKU` tag counts of every
    * xml file under `root`, read as plain text.
    */
  def reference(root: Path): Map[String, Long] = {
    var files, bytes, inits, agaris, nagares = 0L
    xmlFiles(root).foreach { p =>
      val s = Files.readString(p, StandardCharsets.UTF_8)
      files += 1; bytes += Files.size(p)
      inits += occurrences(s, "<INIT "); agaris += occurrences(s, "<AGARI ")
      nagares += occurrences(s, "<RYUUKYOKU")
    }
    Map("games" -> files, "bytes" -> bytes, "kyokus" -> inits,
        "agaris" -> agaris, "nagares" -> nagares)
  }

  def xmlFiles(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(p => p.toString.endsWith(".xml")).toVector.sorted
    finally s.close()
  }

  private def occurrences(s: String, tag: String): Long = {
    var n = 0L
    var i = s.indexOf(tag)
    while (i >= 0) { n += 1; i = s.indexOf(tag, i + tag.length) }
    n
  }

  /** Parquet files and bytes under a lake. */
  def lakeFiles(lake: Path): (Long, Long) = {
    val s = Files.walk(lake)
    try {
      val ps = s.iterator.asScala.filter(_.toString.endsWith(".parquet")).toVector
      (ps.size.toLong, ps.map(Files.size).sum)
    } finally s.close()
  }
}

/** Shared by the workloads: run a query the way a user pays for it. */
object Query {
  /** Build the DataFrame, then materialise every column to the `noop`
    * sink, each in its own span. Returns the build and action seconds.
    */
  def run(trace: Trace, build: => DataFrame): (Double, Double) = {
    val (df, b) = trace.span("queries.build")(build)
    val (_, a) = trace.span("queries.action")(df.write.format("noop").mode("overwrite").save())
    (b.seconds, a.seconds)
  }
}

/** The lake's life cycle, as a fixed sequence of operations: a batch
  * backfill of several dates through `Pipeline.run` (the path EtlMain
  * picks for a corpus under 32 MB), then small date dirs landing one at a
  * time, each drained by `StreamingPipeline.runAvailable` into the same
  * lake, then the six lake queries over the lake the appends grew. The
  * sequence is the same whatever the run length, so every run grows the
  * lake to the same size and queries a lake of the same age.
  */
final class Etl(ctx: Ctx) extends Workload {
  val BulkDates = 2
  val BulkPerDate = 400
  val IngestPerDate = 50
  val Ingests = 3
  /** Games in the warm-up's own date dir. */
  val WarmGames = 8
  private val spark = ctx.spark
  private val corpus = ctx.dir.resolve("corpus")
  private val stage = ctx.dir.resolve("stage")
  private val logs = ctx.dir.resolve("logs")
  private val lake = ctx.dir.resolve("lake")
  private val ckpt = ctx.dir.resolve("checkpoint")
  private val warmDir = ctx.dir.resolve("warm")
  private var bulkS = 0.0
  private val ingestS = ArrayBuffer.empty[Double]
  private val lakeS = ArrayBuffer.empty[Double]
  private var staged = Seq.empty[Path]
  private var ref = Seq.empty[Map[String, Long]]

  val LakeQueries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "win_rate_by_rule" -> MahjongAnalytics.winRateByRule,
    "yaku_frequency" -> MahjongAnalytics.yakuFrequency,
    "score_progression" -> MahjongAnalytics.scoreProgression,
    "action_sequences" -> MahjongAnalytics.actionSequences,
    "player_ranking" -> MahjongAnalytics.playerRanking,
    "riichi_outcomes" -> MahjongAnalytics.riichiOutcomes)

  def inputs(): Unit = {
    val rng = new Random(ctx.seed)
    for (d <- 0 until BulkDates) Corpus.writeDate(corpus, rng, d, BulkPerDate, d * BulkPerDate)
    staged = (0 until Ingests).map(i =>
      Corpus.writeDate(stage, rng, BulkDates + i, IngestPerDate, BulkDates * BulkPerDate + i * IngestPerDate))
    Files.createDirectories(logs)
    Corpus.writeDate(warmDir.resolve("logs"), new Random(ctx.seed + 1), 0, WarmGames, 0)
  }

  /** The first use of the ETL, on a date dir and into a lake of its own:
    * one streaming drain. It loads the parser and the table builders the
    * backfill shares, and keeps the streaming query's cold start out of
    * the timed ingests.
    */
  def warm(): Unit = ctx.attempt("etl warm-up") {
    StreamingPipeline.runAvailable(spark, warmDir.resolve("logs").toString,
      warmDir.resolve("lake").toString, warmDir.resolve("checkpoint").toString)
  }

  def corpusDir: Path = corpus

  /** The backfill, then each staged date dir landing and being ingested,
    * then the lake queries; the deadline does not change the sequence.
    */
  def measure(deadline: Long): Unit = {
    ctx.trace.span("etl.backfill", op = true) {
      ctx.attempt("etl.Pipeline.run") {
        bulkS = ctx.trace.span("etl.Pipeline.run")(
          Pipeline.run(spark, corpus.toString, lake.toString))._2.seconds
      }
    }
    staged.foreach { dir =>
      ctx.trace.span("etl.ingest", op = true) {
        Files.move(dir, logs.resolve(dir.getFileName))
        ctx.attempt("streaming.runAvailable") {
          ingestS += ctx.trace.span("streaming.StreamingPipeline.runAvailable")(
            StreamingPipeline.runAvailable(spark, logs.toString, lake.toString, ckpt.toString))._2.seconds
        }
      }
    }
    for ((name, q) <- LakeQueries) ctx.trace.span(s"etl.lake_query.$name", op = true) {
      ctx.attempt(s"lake query $name") {
        val (b, a) = Query.run(ctx.trace, q(spark, lake.toString))
        lakeS += b + a
      }
    }
  }

  /** Rows per (table, dt) of a lake, in one job. */
  private def perDt(root: Path): Map[(String, String), Long] =
    Pipeline.TableNames.map { t =>
      spark.read.parquet(root.resolve(t).toString)
        .groupBy(col("dt").cast("string").as("dt")).count().withColumn("t", lit(t))
    }.reduce(_ unionByName _)
      .collect().map(r => (r.getAs[String]("t"), r.getAs[String]("dt")) -> r.getAs[Long]("count")).toMap

  private def idRanges(root: Path, dts: Set[String]): Map[String, (Long, Long)] =
    spark.read.parquet(root.resolve("kyokus").toString)
      .groupBy(col("dt").cast("string")).agg(min("id"), max("id"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .filter { case (dt, _) => dts(dt) }.toMap

  /** Row counts against tag counts of the corpus text, and the ingested
    * dates against a batch lake of the same date dirs written through the
    * `mjlog` source (`Pipeline.runV2`), per table and dt.
    */
  def check(): Unit = {
    ref = Seq(corpus, logs).map(Corpus.reference)
    val got = perDt(lake)
    for (t <- Seq("games", "kyokus", "agaris", "nagares"))
      ctx.expect(s"etl rows in $t", ref.map(_(t)).sum, got.collect { case ((`t`, _), n) => n }.sum)
    val batch = ctx.dir.resolve("batch-lake")
    Pipeline.runV2(spark, logs.toString, batch.toString)
    val dts = (BulkDates until BulkDates + Ingests).map(d => Corpus.FirstDay.plusDays(d).toString).toSet
    ctx.expect("etl ingested rows per table and dt vs batch", perDt(batch),
      got.filter { case ((_, dt), _) => dts(dt) })
    ctx.expect("etl ingested kyoku id ranges per dt vs batch", idRanges(batch, dts), idRanges(lake, dts))
    ctx.expect("etl skipped files", 0L, ParseMetrics.skippedFiles(spark).value.longValue)
  }

  def report(): (Map[String, Double], Map[String, Any]) = {
    val bulkGames = BulkDates * BulkPerDate
    val games = bulkGames + ingestS.size * IngestPerDate
    val inputBytes = ref.map(_("bytes")).sum
    val (files, bytes) = Corpus.lakeFiles(lake)
    val p50 = Stats.p50(ingestS.toSeq)
    val readP50 = Stats.p50(lakeS.toSeq)
    val e2e = Map("items_per_s" -> games / (bulkS + ingestS.sum), "latency_p50_s" -> p50,
      "read_p50_s" -> readP50)
    val named = Map(
      "etl_games_per_s" -> bulkGames / bulkS, "etl_wall_s" -> bulkS, "bulk_games" -> bulkGames,
      "ingest_p50_s" -> p50, "ingest_s" -> ingestS.toSeq, "ingested_games" -> (games - bulkGames),
      "lake_query_p50_s" -> readP50, "lake_query_s" -> lakeS.toSeq,
      "input_bytes" -> inputBytes, "lake_files" -> files, "lake_bytes" -> bytes,
      "lake_bytes_per_input_byte" -> bytes.toDouble / inputBytes)
    (e2e, named)
  }
}

/** Registry keys over the sf data dir, in whole passes over a fixed
  * sample, each pass in seeded order; each key is built with
  * `fn(spark, dir)` and fully materialised to `noop`. Every key is timed
  * equally often and the metrics come from per-key medians, so each key
  * weighs the same on every seed.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  /** Timed passes per run at least. */
  val MinPasses = 1
  private val spark = ctx.spark
  private val dir = ctx.dataDir
  private val registry = SparkEntry.queries
  private val keys = QueryMix.sample
  private val order = new Random(ctx.seed)
  private val build = keys.map(_ -> ArrayBuffer.empty[Double]).toMap
  private val action = keys.map(_ -> ArrayBuffer.empty[Double]).toMap
  private var passes = 0
  private val dumps = ctx.dir.resolve("dumps")
  private val oracle = ArrayBuffer.empty[Map[String, Any]]
  private var dumpS = 0.0

  def inputs(): Unit =
    require(keys.forall(registry.contains), "sampled key missing from the registry")

  /** One pass over the sample to `noop`: the first use of every key,
    * which builds every seed the keys need. Each result is kept in memory
    * for the pass and written to `<dumps>/<key>` for the DuckDB compare
    * `run.py` makes after the run (keys without an oracle must return
    * rows); the dump is check work, timed apart and left out of set-up.
    */
  def warm(): Unit = {
    val sqls = SparkEntry.oracleSql
    order.shuffle(keys).foreach { k =>
      ctx.attempt(s"query $k (warm-up)") {
        val df = registry(k)(spark, dir).cache()
        try {
          Query.run(ctx.trace, df)
          val t0 = System.nanoTime()
          df.coalesce(1).write.mode("overwrite").parquet(dumps.resolve(k).toString)
          dumpS += (System.nanoTime() - t0) / 1e9
        } finally df.unpersist(blocking = true)
        oracle += Map("key" -> k, "sql" -> sqls.get(k).map(Scratch.resolveSql(_, dir)))
      }
    }
  }

  override def checkInWarmS: Double = dumpS

  lazy val corpusDir: Path = {
    val root = ctx.dir.resolve("probe-corpus")
    val rng = new Random(ctx.seed)
    for (d <- 0 until 2) Corpus.writeDate(root, rng, d, 100, d * 100)
    root
  }

  /** Whole passes until the deadline has passed. */
  def measure(deadline: Long): Unit =
    while (passes < MinPasses || System.nanoTime() < deadline) {
      order.shuffle(keys).foreach { k =>
        ctx.trace.span(s"query_mix.$k", op = true) {
          ctx.attempt(s"query $k") {
            val (b, a) = Query.run(ctx.trace, registry(k)(spark, dir))
            build(k) += b
            action(k) += a
          }
        }
      }
      passes += 1
    }

  /** The results were dumped in the warm-up; `run.py` compares them. */
  def check(): Unit = ()

  def report(): (Map[String, Double], Map[String, Any]) = {
    val timed = keys.filter(k => build(k).nonEmpty)
    val latency = timed.map(k => k -> build(k).zip(action(k)).map { case (b, a) => b + a }.toSeq).toMap
    val keyMedian = latency.map { case (k, xs) => k -> Stats.median(xs) }
    val actionMedian = timed.map(k => k -> Stats.median(action(k).toSeq)).toMap
    val total = keyMedian.values.sum
    val p50 = Stats.p50(keyMedian.values.toSeq)
    val all = latency.values.flatten.toSeq
    val e2e = Map("items_per_s" -> timed.size / total, "latency_p50_s" -> p50,
      "read_p50_s" -> Stats.p50(actionMedian.values.toSeq))
    val named = Map(
      "query_total_s" -> total, "query_p50_s" -> p50,
      "query_tail" -> (if (all.size >= 11) Stats.tail(all) else null),
      "passes" -> passes, "keys" -> keys, "key_median_s" -> keyMedian,
      "key_action_median_s" -> actionMedian,
      "seeds_s" -> graft.queries.Seeds.breakdown, "dump_s" -> dumpS,
      "oracle" -> Map("dir" -> dumps.toString, "keys" -> oracle.toSeq))
    (e2e, named)
  }
}
object QueryMix {
  /** Families smaller than this share one stratum. */
  val MinStratum = 10

  /** Fixed sampling seed: every run measures the same stratified sample,
    * so runs with different `--seed` (which sets the order) compare the
    * same work.
    */
  val SampleSeed = 20261017L

  def families: Seq[Map[String, graft.queries.util.Q]] = {
    import graft.queries._
    Seq(Relational.entries, Windows.entries, Funcs.entries, LlmOps.entries,
      StreamingQ.entries, Multimodal.entries, Extensions.entries, Headline.entries,
      Skew.entries, Analytics.entries, Curation.entries, Insights.entries,
      Maintain.entries, Quality.entries, MahjongAnalytics.entries, Signals.entries)
  }

  /** A stratified sample of the registry: one key from each family, the
    * small families pooled into one stratum. One pass over it fits the
    * run's time budget.
    */
  lazy val sample: Seq[String] = {
    val (small, large) = families.map(_.keys.toVector.sorted).partition(_.size < MinStratum)
    val rng = new Random(SampleSeed)
    (large :+ small.flatten.sorted).map(keys => keys(rng.nextInt(keys.size)))
  }
}

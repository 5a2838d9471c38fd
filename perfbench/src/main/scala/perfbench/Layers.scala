package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.etl.{MjlogParser, ParseMetrics}

/** Per-layer metrics of a traced run. Listener events are attributed to
  * the workload operation whose interval contains them (one closed-loop
  * client, so operations never overlap). A metric of one kind of
  * operation (`etl.*`: backfills, `streaming.*`: ingests, `queries.*`:
  * queries) is a mean over the operations of that kind; the runtime
  * metrics are means over all timed operations, whose mix is fixed per
  * workload. Names that are no means say so.
  */
object Layers {
  /** Listener timestamps are whole milliseconds. */
  private val SlackNs = 2000000L

  def apply(ctx: Ctx, named: Map[String, Any], corpus: Path): Map[String, Double] = {
    val t = ctx.trace
    val ops = t.spans.filter(s => s.id == s.op).sortBy(_.start).toVector
    val n = math.max(1, ops.size).toDouble
    def kind(o: Span): String =
      if (o.name == "etl.backfill") "backfill" else if (o.name == "etl.ingest") "ingest" else "query"
    val opsOf = ops.groupBy(kind).withDefaultValue(Vector.empty)
    def perKind(k: String)(x: Double): Double = x / math.max(1, opsOf(k).size)
    val starts = ops.map(_.start).toArray
    def opOf(at: Long): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, at) match {
        case x if x >= 0 => x
        case x => -x - 2
      }
      if (i >= 0 && at <= ops(i).end + SlackNs) Some(ops(i)) else None
    }
    val jobs = t.jobs.flatMap(j => opOf(j.start).map(o => o -> j)).toVector
    val tasks = t.tasks.filter(x => opOf(x.finish).isDefined).toVector
    val stages = t.stageEnds.count(x => opOf(x).isDefined)
    val phases = t.phases.filter(p => opOf(p.start).isDefined).toVector
    val progress = t.progress.filter(p => opOf(p.at).isDefined).toVector
    def perOp(x: Double): Double = x / n
    def spanSum(name: String): Double =
      t.spans.filter(s => s.name == name && s.op != 0).map(_.seconds).sum
    def phase(name: String): Double = phases.filter(_.name == name).map(p => (p.end - p.start) / 1e9).sum
    def progressSum(key: String): Double = progress.map(_.durations.getOrElse(key, 0L)).sum / 1e3
    val backfill = perKind("backfill") _
    val ingest = perKind("ingest") _
    val query = perKind("query") _

    val jobsOf = jobs.groupBy(_._1.id).map { case (id, js) => id -> js.map(_._2).sortBy(_.start) }
      .withDefaultValue(Vector.empty)
    val jobsPerOp = ops.map(o => jobsOf(o.id).size.toDouble)
    val idle = ops.map { o =>
      val covered = union(jobsOf(o.id).map(j => (math.max(j.start, o.start), math.min(j.end, o.end))))
      math.max(0.0, o.seconds - covered / 1e9)
    }

    // ETL phases, from the job intervals of each backfill: a batch run
    // materialises parse + cache (first count), then the kyoku-id window
    // (second count), then the table writes
    var parseCache, kyokuIds, writes = 0.0
    opsOf("backfill").foreach { o =>
      val js = jobsOf(o.id)
      val counts = js.filter(_.callSite.startsWith("count at Pipeline.scala"))
      if (counts.size >= 2) {
        parseCache += (counts(0).end - o.start) / 1e9
        kyokuIds += (counts(1).end - counts(0).end) / 1e9
        writes += (js.map(_.end).max - counts(1).end) / 1e9
      }
    }
    val streamRuns = t.spans.filter(s => s.name == "streaming.StreamingPipeline.runAvailable" && s.op != 0)
    val startDelays = streamRuns.flatMap(r => t.streamStarts.find(_ >= r.start).map(s => (s - r.start) / 1e9))

    val (parseUs, scanS, scanTasks) = probes(ctx, corpus)
    def num(key: String): Double = named.get(key) match {
      case Some(x: Long) => x.toDouble
      case Some(x: Int) => x.toDouble
      case Some(x: Double) => x
      case _ => 0.0
    }
    Map(
      "etl.parse_us_per_game" -> parseUs,
      "sources.scan_s" -> scanS,
      "sources.scan_tasks" -> scanTasks,
      "etl.parse_cache_s" -> backfill(parseCache),
      "etl.kyoku_ids_s" -> backfill(kyokuIds),
      "etl.writes_s" -> backfill(writes),
      "etl.skipped_files" -> ParseMetrics.skippedFiles(ctx.spark).value.doubleValue,
      "etl.backfilled_files" -> ParseMetrics.backfilledFiles(ctx.spark).value.doubleValue,
      "lake.files" -> num("lake_files"),
      "lake.bytes" -> num("lake_bytes"),
      "io.input_bytes" -> perOp(tasks.map(_.input).sum.toDouble),
      "io.output_bytes" -> perOp(tasks.map(_.output).sum.toDouble),
      "streaming.start_s" -> (if (startDelays.isEmpty) 0.0 else startDelays.sum / startDelays.size),
      "streaming.latest_offset_s" -> ingest(progressSum("latestOffset")),
      "streaming.query_planning_s" -> ingest(progressSum("queryPlanning")),
      "streaming.add_batch_s" -> ingest(progressSum("addBatch")),
      "streaming.wal_commit_s" -> ingest(progressSum("walCommit")),
      "streaming.batches" -> ingest(progress.size.toDouble),
      "queries.build_s" -> query(spanSum("queries.build")),
      "queries.action_s" -> query(spanSum("queries.action")),
      "exec.idle_s" -> perOp(idle.sum),
      "scheduler.jobs" -> perOp(jobs.size.toDouble),
      "scheduler.stages" -> perOp(stages.toDouble),
      "scheduler.tasks" -> perOp(tasks.size.toDouble),
      "scheduler.jobs_per_key_p50" -> (if (jobsPerOp.isEmpty) 0.0 else Stats.median(jobsPerOp)),
      "exec.sched_delay_s" -> perOp(tasks.map(_.schedDelayS).sum),
      "exec.task_deser_s" -> perOp(tasks.map(_.deserS).sum),
      "exec.task_run_s" -> perOp(tasks.map(_.runS).sum),
      "exec.task_gc_s" -> perOp(tasks.map(_.gcS).sum),
      "shuffle.write_bytes" -> perOp(tasks.map(_.shuffleWrite).sum.toDouble),
      "shuffle.read_bytes" -> perOp(tasks.map(_.shuffleRead).sum.toDouble),
      "shuffle.spill_bytes" -> perOp(tasks.map(_.spill).sum.toDouble),
      "catalyst.analysis_s" -> perOp(phase("analysis")),
      "catalyst.optimization_s" -> perOp(phase("optimization")),
      "catalyst.planning_s" -> perOp(phase("planning")),
      "seeds.s" -> graft.queries.Seeds.totalSec,
      "trace.listener_s" -> t.listenerNanos / 1e9,
      "trace.ops" -> ops.size.toDouble)
  }

  /** Total length of the union of closed intervals. */
  private def union(xs: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }

  /** Layer probes outside the timed loop: the parser alone on the driver,
    * one thread, over a fixed sample of files; and the `mjlog` source
    * alone, read into `noop`.
    */
  private def probes(ctx: Ctx, corpus: Path): (Double, Double, Double) = {
    val files = Corpus.xmlFiles(corpus).take(200)
    val texts = files.map(p => (Files.readString(p), p.getFileName.toString.stripSuffix(".xml")))
    val day = LocalDate.of(2024, 1, 1)
    val passes = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      texts.foreach { case (x, id) => MjlogParser.parse(x, id, day) }
      (System.nanoTime() - t0) / 1e3 / texts.size
    }
    val before = ctx.trace.tasks.size
    val t0 = System.nanoTime()
    ctx.spark.read.format("mjlog").load(corpus.toString).write.format("noop").mode("overwrite").save()
    val scanS = (System.nanoTime() - t0) / 1e9
    ctx.trace.drain(ctx.spark)
    (Stats.median(passes), scanS, (ctx.trace.tasks.size - before).toDouble)
  }

  /** One JSON object per line: harness spans around each call into a
    * layer, then jobs, Catalyst phases and streaming batches from the
    * listeners, each parented to the operation it ran in.
    */
  def writeSpans(t: Trace, out: Path): Unit = {
    val ops = t.spans.filter(s => s.id == s.op).sortBy(_.start).toVector
    def opAt(at: Long): Long = ops.find(o => o.start <= at && at <= o.end + SlackNs).map(_.id).getOrElse(0L)
    var id = t.spans.map(_.id).maxOption.getOrElse(0L)
    val all = ArrayBuffer.empty[Span] ++= t.spans
    def add(name: String, s: Long, e: Long): Unit = {
      id += 1
      val o = opAt(s)
      all += Span(id, name, s, e, o, o)
    }
    t.jobs.foreach(j => add(s"scheduler.job ${j.callSite}", j.start, j.end))
    t.phases.foreach(p => add(s"catalyst.${p.name}", p.start, p.end))
    t.progress.foreach(p => add("streaming.batch", p.at, p.at + p.durations.getOrElse("triggerExecution", 0L) * 1000000L))
    val lines = all.sortBy(_.start).map(s => Json(Map("id" -> s.id, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op)))
    Files.write(out, lines.asJava)
  }
}

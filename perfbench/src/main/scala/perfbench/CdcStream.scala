package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.agg.ActivityAggs
import graft.cdc.Debezium
import graft.io.ParquetUpsertSink
import graft.model.Schemas
import graft.streaming.Pipeline

/** Kafka-shaped wire row: the envelope JSON and the broker timestamp. */
final case class KafkaRow(value: String, timestamp: Timestamp)

/** The `cdc_stream` workload: the two-stream topology `Pipeline.start`
  * wires (employee and activity CDC streams, parsed and enriched, two
  * upsert tables, watermarked hourly and daily aggregates), fed from
  * in-memory Kafka-shaped streams.
  *
  * Phase 1 drains a backlog in fixed chunks, one micro-batch per query
  * per chunk; the first chunks warm the JVM untimed. Phase 2 feeds events
  * open-loop at a fixed rate while every trigger fires as soon as the
  * previous batch ends, and times each event from when it was due to the
  * end of the upsert commit that made its row readable.
  */
object CdcStream {
  final case class Event(emp: Boolean, pos: Int, envelope: String, kept: Boolean)

  /** Broker timestamp of feed position `pos`: one millisecond apart, so
    * the latest version of a key is the last one in feed order. */
  def stamp(pos: Int): Timestamp = new Timestamp(FeedStartMs + pos)
  val FeedStartMs: Long = java.time.Instant.parse("2025-03-01T00:00:00Z").toEpochMilli

  private val OpRe = "\"op\":\"(.)\"".r

  def readFeed(path: String): IndexedSeq[Event] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().zipWithIndex.map { case (line, i) =>
      val tab = line.indexOf('\t')
      val env = line.substring(tab + 1)
      val op = OpRe.findFirstMatchIn(env).map(_.group(1)).getOrElse("?")
      Event(line.charAt(0) == 'e', i, env, Debezium.keptOps.contains(op))
    }.toIndexedSeq
    finally src.close()
  }

  /** Which stages a topology runs: the full pipeline, or a prefix of it
    * ending in a no-op sink (traced runs, for per-layer rates). */
  sealed trait Stage
  case object WireOnly extends Stage
  case object Parse extends Stage
  case object Enrich extends Stage
  case object Agg extends Stage
  case object Full extends Stage

  /** One running instance of the topology with its own inputs, tables
    * and checkpoints under `root`. */
  final class Topology(spark: SparkSession, root: String, now: Column, stage: Stage,
      partitions: Int, traced: Boolean) {
    implicit private val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // a memory stream serves one query, so every query gets its own copy
    // of its stream's feed; each copy spreads every batch over
    // `partitions` input partitions, as a topic's partitions would
    private val empIns = ArrayBuffer.empty[MemoryStream[KafkaRow]]
    private val actIns = ArrayBuffer.empty[MemoryStream[KafkaRow]]
    private def source(ins: ArrayBuffer[MemoryStream[KafkaRow]]): DataFrame = {
      val m = MemoryStream[KafkaRow](partitions)
      ins += m
      m.toDF()
    }
    val empSink = ParquetUpsertSink(s"$root/employees", Seq("id"),
      "processing_timestamp", "processing_date")
    val actSink = ParquetUpsertSink(s"$root/activities", Seq("id"),
      "processing_timestamp", "processing_date")
    /** Wall clock (nanoTime) at the end of each upsert commit, by table
      * and batch id; per-commit counts in traced runs. */
    val commitEnd = new ConcurrentHashMap[(String, Long), Long]()
    val commits = new ConcurrentHashMap[(String, Long), Map[String, Double]]()
    /** Latest emitted row of each aggregate group. */
    val hourly = new ConcurrentHashMap[String, Row]()
    val daily = new ConcurrentHashMap[String, Row]()

    private val trigger = Trigger.ProcessingTime(0L)
    private def cp(name: String) = s"$root/checkpoints/$name"

    private def upsert(name: String, events: DataFrame, sink: ParquetUpsertSink) =
      Pipeline.upsertSink(events, sink, cp(name), trigger)
        .queryName(name)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val sc = batch.sparkSession.sparkContext
          val t0 = System.nanoTime()
          if (traced) {
            val key = s"commit:$name:$id"
            Spans.within(sc, key)(sink.upsert(batch, id))
            val t1 = System.nanoTime()
            PerfbenchBus.drain(sc)
            val c = Spans.of(key)
            commits.put(name -> id, Map("t0" -> t0.toDouble, "t1" -> t1.toDouble,
              "ms" -> Stats.ms(t0, t1),
              "jobs" -> c.jobs.get.toDouble, "files" -> c.filesCreated.get.toDouble,
              "fs_ops" -> c.fsOps.get.toDouble))
            commitEnd.put(name -> id, t1)
          } else {
            sink.upsert(batch, id)
            commitEnd.put(name -> id, System.nanoTime())
          }
          ()
        }
        .start()

    private def collectLatest(name: String, df: DataFrame, into: ConcurrentHashMap[String, Row],
        keys: Seq[String]) =
      df.writeStream.queryName(name)
        .option("checkpointLocation", cp(name))
        .outputMode(OutputMode.Update())
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.collect().foreach(r => into.put(keys.map(k => String.valueOf(r.getAs[Any](k))).mkString("|"), r))
        }
        .start()

    private def noop(name: String, df: DataFrame, mode: OutputMode) =
      df.writeStream.queryName(name).format("noop")
        .option("checkpointLocation", cp(name))
        .outputMode(mode).trigger(trigger).start()

    private def emp() = source(empIns)
    private def act() = source(actIns)
    private def acts() = Pipeline.activityStream(act(), now)
    private val append = OutputMode.Append()
    val queries: Seq[StreamingQuery] = stage match {
      case WireOnly => Seq(noop("emp_wire", emp(), append), noop("act_wire", act(), append))
      case Parse => Seq(
        noop("emp_parse", Debezium.parse(emp(), Schemas.employee, "employee"), append),
        noop("act_parse", Debezium.parse(act(), Schemas.activity, "activity"), append))
      case Enrich => Seq(
        noop("emp_enrich", Pipeline.employeeStream(emp(), now), append),
        noop("act_enrich", acts(), append))
      case Agg => Seq(
        noop("emp_enrich", Pipeline.employeeStream(emp(), now), append),
        noop("hourly_agg", ActivityAggs.hourlyStreaming(acts()), OutputMode.Update()),
        noop("daily_agg", ActivityAggs.dailyStreaming(acts()), OutputMode.Update()))
      case Full => Seq(
        upsert("employees", Pipeline.employeeStream(emp(), now), empSink),
        upsert("activities", acts(), actSink),
        collectLatest("hourly_agg", ActivityAggs.hourlyStreaming(acts()), hourly,
          Seq("window_start", "employee_id", "activity_type")),
        collectLatest("daily_agg", ActivityAggs.dailyStreaming(acts()), daily,
          Seq("window_start", "activity_type", "device_category")))
    }

    private def add(ins: Seq[MemoryStream[KafkaRow]], es: Seq[Event]): Option[Long] =
      if (es.isEmpty) None
      else {
        val rows = es.map(e => KafkaRow(e.envelope, stamp(e.pos)))
        ins.map(_.addData(rows).asInstanceOf[LongOffset].offset).headOption
      }

    /** Feed `events`; returns the memory-stream offsets the employee and
      * activity shares got (every copy of a stream gets the same). */
    def feed(events: Seq[Event]): (Option[Long], Option[Long]) = {
      val (emp, act) = events.partition(_.emp)
      (add(empIns.toSeq, emp), add(actIns.toSeq, act))
    }

    def await(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(q => scala.util.Try(q.stop()))
    def progress(name: String): Seq[StreamingQueryProgress] =
      queries.find(_.name == name).toSeq.flatMap(_.recentProgress.toSeq)
  }

  final case class Plan(backlog: IndexedSeq[IndexedSeq[Event]], warm: Int, live: IndexedSeq[Event])

  /** Drains the backlog chunk by chunk; returns (kept events in the
    * timed chunks, wall ms of the timed chunks). `onTimed` runs once, at
    * the first timed operation. */
  def drain(top: Topology, plan: Plan, onTimed: () => Unit): (Long, Double) = {
    var t0 = 0L
    plan.backlog.zipWithIndex.foreach { case (chunk, i) =>
      if (i == plan.warm) { onTimed(); t0 = System.nanoTime() }
      top.feed(chunk)
      top.await()
    }
    val kept = plan.backlog.drop(plan.warm).flatten.count(_.kept).toLong
    (kept, Stats.ms(t0, System.nanoTime()))
  }

  def run(spark: SparkSession, conf: Main.Conf, spans: SpanLog): Main.Outcome = {
    val traced = conf.traced
    val out = conf("out")
    val scratch = conf("scratch")
    val feed = readFeed(conf("feed"))
    val warm = conf.int("warm_chunks")
    val warmEvents = conf.int("warm_events")
    val timedEvents = conf.int("chunk_events")
    val rate = conf.double("rate")
    val tickMs = conf.int("tick_ms")
    val now = lit(conf("now")).cast("date")
    val nWarm = warm * warmEvents
    val nBacklog = nWarm + conf.int("chunks") * timedEvents
    val plan = Plan(
      (feed.take(nWarm).grouped(warmEvents) ++
        feed.slice(nWarm, nBacklog).grouped(timedEvents)).toIndexedSeq,
      warm, feed.drop(nBacklog))

    val since = () => (System.currentTimeMillis() - conf("t0_ms").toLong) / 1000.0
    val marks = scala.collection.mutable.LinkedHashMap("session" -> since())
    val partitions = conf.int("partitions")
    val top = new Topology(spark, s"$scratch/cdc", now, Full, partitions, traced)
    var setupS = 0.0
    var bytes0 = 0L
    val (p1Kept, p1Ms) = drain(top, plan, { () =>
      setupS = (System.currentTimeMillis() - conf("t0_ms").toLong) / 1000.0
      bytes0 = Process.fsBytesWritten
    })
    val p1End = System.nanoTime()
    marks("phase1_end") = since()
    val bytesWritten = (Process.fsBytesWritten - bytes0).toDouble
    val eventsPerS = p1Kept / (p1Ms / 1000.0)
    val aggProgressAtP1 = Seq("hourly_agg", "daily_agg").flatMap(top.progress(_).lastOption)
    val p1Batches = Seq("employees", "activities").map(n => n -> top.progress(n).map(_.batchId).max).toMap

    // —— phase 2: open-loop feed at `rate` events/s into all four queries
    System.gc() // start the phase on a settled heap
    final case class Block(emp: Boolean, offset: Long, dues: Array[Long])
    val blocks = ArrayBuffer.empty[Block]
    val lags = ArrayBuffer.empty[Double]
    val live = plan.live
    val p2Start = System.nanoTime() + 50L * 1000 * 1000
    val nsPerEvent = 1e9 / rate
    def due(j: Int): Long = p2Start + (j * nsPerEvent).toLong
    val generator = new Thread(() => {
      var j = 0
      var tick = 0L
      while (j < live.size) {
        tick += 1
        val tickAt = p2Start + tick * tickMs * 1000L * 1000L
        val sleepNs = tickAt - System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000, (sleepNs % 1000000).toInt)
        val from = j
        while (j < live.size && due(j) <= tickAt) j += 1
        if (j > from) {
          val evs = live.slice(from, j)
          val (e, a) = top.feed(evs)
          val done = System.nanoTime()
          lags += Stats.ms(due(j - 1), done).max(0.0)
          def dues(emp: Boolean) =
            (from until j).filter(k => live(k).emp == emp && live(k).kept).map(due).toArray
          e.foreach(o => blocks += Block(emp = true, o, dues(true)))
          a.foreach(o => blocks += Block(emp = false, o, dues(false)))
        }
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    top.await()
    marks("phase2_end") = since()

    // freshness: each kept event, from its due time to the end of the
    // commit of the batch that held it
    val fresh = ArrayBuffer.empty[Double]
    var p2Commits = 0
    Seq("employees" -> true, "activities" -> false).foreach { case (name, emp) =>
      val mine = blocks.filter(_.emp == emp)
      val batches = top.progress(name)
        .filter(p => p.numInputRows > 0 && p.batchId > p1Batches(name))
        .map(p => p.batchId -> p.sources.head.endOffset.trim.toLong)
        .sortBy(_._1)
      var lo = mine.headOption.map(_.offset - 1).getOrElse(0L)
      batches.foreach { case (id, end) =>
        val end_ns = top.commitEnd.get(name -> id)
        mine.filter(b => b.offset > lo && b.offset <= end).foreach { b =>
          b.dues.foreach(d => fresh += Stats.ms(d, end_ns))
        }
        lo = end
        p2Commits += 1
      }
    }
    val p2Kept = live.count(_.kept)
    val allProgress = Seq("employees", "activities", "hourly_agg", "daily_agg").flatMap(top.progress)
    val dropped = allProgress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum

    // —— outputs for the check, outside the timed part
    top.stop()
    Seq("employees" -> top.empSink.path, "activities" -> top.actSink.path).foreach { case (n, p) =>
      spark.read.format("graft-upsert").load(p).coalesce(1).write.parquet(s"$out/results/$n")
    }
    def writeAgg(name: String, rows: Iterable[Row]): Unit = {
      val w = new java.io.PrintWriter(s"$out/results/$name.jsonl", "UTF-8")
      try rows.foreach { r =>
        w.println(Json(r.schema.fieldNames.map { f =>
          f -> (r.getAs[Any](f) match {
            case t: Timestamp => t.getTime * 1000L
            case x => x
          })
        }.toMap))
      } finally w.close()
    }
    writeAgg("hourly", top.hourly.values.asScala)
    writeAgg("daily", top.daily.values.asScala)
    marks("outputs_written") = since()

    val e2e = Map(
      "setup_s" -> setupS,
      "ops_per_s" -> eventsPerS,
      "op_p50_ms" -> Stats.median(fresh.toSeq),
      "bytes_written" -> bytesWritten)
    val detail = Map[String, Any](
      "phase1_kept_events" -> p1Kept, "phase1_ms" -> p1Ms,
      "phase1_bytes_written" -> bytesWritten, "marks_s" -> marks,
      "phase2_kept_events" -> p2Kept, "phase2_commits" -> p2Commits,
      "freshness_samples" -> fresh.size, "watermark_dropped_rows" -> dropped,
      "gen_lag_p99_ms" -> Stats.pct(lags.toSeq, 99), "gen_lag_max_ms" -> lags.max,
      "batches" -> Seq("employees", "activities", "hourly_agg", "daily_agg").map(n =>
        n -> top.progress(n).filter(_.numInputRows > 0).map(p => Seq(p.batchId, p.numInputRows,
          p.durationMs.get("triggerExecution"), p.durationMs.get("addBatch")))).toMap)

    if (!traced)
      return Main.Outcome(feed.size.toLong, 0L, Main.withUnits(e2e), detail)

    // —— traced only: per-layer figures
    val p2 = Seq("employees", "activities").flatMap(n =>
      top.progress(n).filter(p => p.numInputRows > 0 && p.batchId > p1Batches(n)))
    def dur(k: String) = Stats.median(p2.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    // the commits of the timed chunks and of phase 2 (batch ids count chunks)
    val commitStats = top.commits.asScala.toSeq.collect {
      case ((_, id), m) if id >= plan.warm => m
    }
    def cmed(k: String) = Stats.median(commitStats.map(_(k)))
    spans.add("phase1.full", p1End - (p1Ms * 1e6).toLong, p1End, "kept_events" -> p1Kept)
    top.commits.asScala.foreach { case ((n, id), m) =>
      spans.add("io.commit", m("t0").toLong, m("t1").toLong,
        "table" -> n, "batch" -> id, "jobs" -> m("jobs"), "files" -> m("files"),
        "fs_ops" -> m("fs_ops"))
    }

    // per-layer rates: the same backlog through successive prefixes
    def prefixRate(stage: Stage, s: SparkSession, tag: String): Double = {
      val t = new Topology(s, s"$scratch/$tag", now, stage, partitions, traced = false)
      try {
        val (kept, ms) = drain(t, plan, () => ())
        val end = System.nanoTime()
        spans.add(s"phase1.$tag", end - (ms * 1e6).toLong, end, "kept_events" -> kept)
        kept / (ms / 1000.0)
      } finally t.stop()
    }
    val rates = Seq(WireOnly -> "wire", Parse -> "parse", Enrich -> "enrich", Agg -> "agg")
      .map { case (st, tag) => tag -> prefixRate(st, spark, tag) }.toMap

    // single-slot baseline: the full topology's phase 1 on local[1]
    spark.stop()
    val one = Main.session(1, traced = false)
    val singleSlot = prefixRate(Full, one, "single_slot")

    val layer = Map[String, (Double, String)](
      "streaming.wire_events_per_s" -> (rates("wire") -> "1/s"),
      "cdc.events_per_s" -> (rates("parse") -> "1/s"),
      "enrich.events_per_s" -> (rates("enrich") -> "1/s"),
      "agg.events_per_s" -> (rates("agg") -> "1/s"),
      "io.events_per_s" -> (eventsPerS -> "1/s"),
      "io.bytes_written" -> (bytesWritten / p1Kept -> "bytes"),
      "io.commit_ms" -> (cmed("ms") -> "ms"),
      "io.commit_jobs" -> (cmed("jobs") -> "count"),
      "io.commit_files_written" -> (cmed("files") -> "count"),
      "io.commit_fs_ops" -> (cmed("fs_ops") -> "count"),
      "streaming.add_batch_ms" -> (dur("addBatch") -> "ms"),
      "streaming.query_planning_ms" -> (dur("queryPlanning") -> "ms"),
      "streaming.wal_commit_ms" -> (dur("walCommit") -> "ms"),
      "streaming.batch_rows" -> (Stats.median(p2.map(_.numInputRows.toDouble)) -> "count"),
      "agg.state_rows" -> (aggProgressAtP1.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble -> "count"),
      "agg.state_bytes" -> (aggProgressAtP1.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble -> "bytes"),
      "agg.watermark_dropped_rows" -> (dropped.toDouble -> "count"),
      "gen.lag_ms" -> (Stats.pct(lags.toSeq, 99) -> "ms"),
      "streaming.single_slot_events_per_s" -> (singleSlot -> "1/s"))
    Main.Outcome(feed.size.toLong, 0L, layer, detail + ("traced_e2e" -> e2e))
  }
}

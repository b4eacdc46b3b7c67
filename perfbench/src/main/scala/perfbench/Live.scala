package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.StreamingPipeline

final case class Tick(event_id: Long, ts: Timestamp, event_type: String, value: Double)
final case class Aux(ts: Timestamp, v: Double)
/** One message of the DAG's source, which carries all 5 topics. */
final case class Msg(topic: String, id: Long, ts: Timestamp, symbol: String, value: Double)

/** Seeded producer: one 5-minute bucket per poll for `symbols` series,
  * `ticks` deep-book ticks per series per bucket (so every series is
  * gapless per bucket) and one event for each of the 4 aux sources.
  * It also predicts the reference DAG's output: a tick joins iff every
  * aux timestamp lies in [tick.ts, tick.ts + 3 min]. */
final class Feed(seed: Long, symbols: Int, ticks: Int) {
  private val rng = new scala.util.Random(seed)
  private val baseMs = java.time.Instant.parse("2024-01-02T14:30:00Z").toEpochMilli
  private val price = Array.fill(symbols)(50.0 + rng.nextInt(200))
  private var nextId = 0L
  private var nextBucket = 0
  val sent = ArrayBuffer.empty[Tick]
  var expectedDagRows = 0L
  def buckets: Int = nextBucket
  def lastBucketMs: Long = baseMs + (nextBucket - 1) * 300000L

  private def r2(x: Double) = math.round(x * 100) / 100.0

  /** The next bucket: (ticks, one event per aux source). */
  def next(): (Seq[Tick], Seq[Aux]) = {
    val start = baseMs + nextBucket * 300000L
    nextBucket += 1
    val auxTs = Seq.fill(4)(start + rng.nextInt(300000))
    val aux = auxTs.map(t => Aux(new Timestamp(t), r2(rng.nextDouble() * 100)))
    val out = (0 until symbols).flatMap { s =>
      Seq.fill(ticks)(rng.nextInt(300000)).sorted.map { off =>
        price(s) = math.max(1.0, r2(price(s) + rng.nextGaussian() * 0.1))
        nextId += 1
        Tick(nextId, new Timestamp(start + off), f"sym$s%02d", price(s))
      }
    }
    expectedDagRows += out.count { t =>
      t.ts.getTime <= auxTs.min && t.ts.getTime >= auxTs.max - 180000L
    }
    sent ++= out
    (out, aux)
  }
}

/** producer.py -> spark_consumer.py in compressed time: two streaming
  * queries in one session, the reference DAG and the per-series
  * training matrix, each into `foreachBatchParquetSink`. The DAG reads
  * one source subscribed to the 5 topics (deep + 4 aux) and splits it
  * by topic, so a poll's messages land in one micro-batch rather than
  * in whichever batches the 5 appends happen to straddle. Phase 1 is a
  * restart: the backlog is already in the sources when the queries
  * start, so it is replayed in one large batch. Phase 2 is the live
  * loop: one bucket per poll, closed loop, the next poll sent once both
  * sinks have committed the previous one. */
final class Live(ctx: Ctx) extends Workload {
  private val spark: SparkSession = ctx.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val symbols = ctx.int("symbols")
  private val ticks = ctx.int("ticks")
  private val backlog = ctx.int("backlog")
  private val minPolls = ctx.int("min-polls")
  /** predict.py sleeps 15 s before it reads the joined row. */
  val pollLimitMs = 15000.0

  private val progress = new ProgressLog
  if (ctx.trace) spark.streams.addListener(progress)

  private final class Pipeline {
    val msgs = MemoryStream[Msg]
    val events = MemoryStream[Tick]
    val root = s"${ctx.out}/live"
    private val auxNames = Seq("vix", "vol", "cot", "ind")
    private val dag = StreamingPipeline.referenceDag(
      msgs.toDF().filter($"topic" === "deep").select($"id".as("deep_id"), $"ts",
        $"symbol", $"value".as("micro_price")),
      auxNames.map(n => n -> msgs.toDF().filter($"topic" === n)
        .select($"ts", $"value".as(s"${n}_value"))))
    private var queries: Seq[StreamingQuery] = Nil

    def start(): Unit = queries = Seq(
      StreamingPipeline.foreachBatchParquetSink(dag, s"$root/dag", s"$root/dag_ckpt")
        .queryName("dag").start(),
      StreamingPipeline.foreachBatchParquetSink(
        StreamingPipeline.streamingFeatureMatrixBy(events.toDF()),
        s"$root/features", s"$root/features_ckpt")
        .queryName("features").start())

    /** Appends the buckets to both sources; returns the events sent. */
    def add(batch: Seq[(Seq[Tick], Seq[Aux])]): Int = {
      val tk = batch.flatMap(_._1)
      msgs.addData(tk.map(t => Msg("deep", t.event_id, t.ts, t.event_type, t.value)) ++
        batch.flatMap(_._2.zip(auxNames).map { case (a, n) => Msg(n, 0L, a.ts, "", a.v) }))
      events.addData(tk)
      tk.size + 4 * batch.size
    }

    /** Waits until both sinks have committed everything added. */
    def drain(): Unit = queries.foreach(_.processAllAvailable())

    def stop(): Unit = queries.foreach(_.stop())
  }

  private val feed = new Feed(ctx.seed, symbols, ticks)
  private var main: Pipeline = _
  private var catchupEvents = 0

  /** No warm-up: phase 1 is a restarted consumer, so it starts cold.
    * Set-up generates the backlog and appends it to the sources. */
  def setUp(): Unit = {
    main = new Pipeline
    catchupEvents = main.add(Seq.fill(backlog)(feed.next()))
  }

  private val polls = ArrayBuffer.empty[(Double, Double)]
  private var catchup = (0.0, 0.0)

  def measure(): Measured = {
    val c0 = ctx.nowMs
    main.start()
    main.drain()
    catchup = (c0, ctx.nowMs)
    val catchupS = (catchup._2 - catchup._1) / 1000.0
    val liveStart = ctx.nowMs
    while (polls.size < minPolls || ctx.nowMs - liveStart < ctx.seconds * 1000.0) {
      val bucket = Seq(feed.next())
      val s = ctx.nowMs
      main.add(bucket)
      main.drain()
      polls += ((s, ctx.nowMs))
    }
    main.stop()
    val lat = polls.map { case (s, e) => e - s }.toSeq
    val slow = lat.zipWithIndex.collect {
      case (l, i) if l > pollLimitMs => f"poll $i: $l%.0f ms exceeds the 15 s limit"
    }
    if (ctx.trace) traceSpans()
    Measured(catchupS, lat, 1 + polls.size, slow,
      lat.zipWithIndex.map { case (l, i) => Map[String, Any]("poll" -> i, "latency_ms" -> l) },
      Map("symbols" -> symbols, "ticks_per_symbol" -> ticks, "catchup_buckets" -> backlog,
        "catchup_events" -> catchupEvents,
        "catchup_s" -> catchupS, "catchup_events_per_s" -> catchupEvents / catchupS,
        "live_polls" -> polls.size, "events_per_poll" -> (symbols * ticks + 4)))
  }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  private def endMs(p: StreamingQueryProgress): Double =
    startMs(p) + p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

  /** poll -> per-query micro-batch spans, from the progress events. */
  private def traceSpans(): Unit = {
    val windows = ("catchup", catchup) +:
      polls.toSeq.zipWithIndex.map { case (w, i) => (s"poll $i", w) }
    val roots = windows.map { case (name, (s, e)) =>
      val id = ctx.spans.newId()
      ctx.spans.add(Span(id, 0, id, name, s, e))
      (id, s, e)
    }
    Main.streamQueries.foreach { q =>
      progress.of(q).foreach { p =>
        val s = startMs(p)
        val parent = roots.find { case (_, a, b) => s >= a - 1 && s <= b }.map(_._1).getOrElse(0L)
        ctx.spans.add(Span(ctx.spans.newId(), parent, parent, s"$q batch ${p.batchId}", s,
          endMs(p), Map("input_rows" -> p.numInputRows) ++
            Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets", "latestOffset")
              .map(k => k -> p.durationMs.getOrDefault(k, 0L).toLong)))
      }
    }
  }

  def verify(): Seq[(String, Option[String])] = {
    def check(name: String)(f: => Option[String]) =
      name -> (try f catch { case e: Throwable => Some(s"threw ${e.getMessage}".take(300)) })
    Seq(
      check("dag_rows") {
        val got = spark.read.parquet(s"${main.root}/dag")
        val n = got.count()
        val ids = got.select("deep_id").distinct().count()
        if (n == feed.expectedDagRows && ids == n) None
        else Some(s"DAG wrote $n rows ($ids distinct ticks); the generator predicts " +
          s"${feed.expectedDagRows}")
      },
      check("features_equal_batch")(featureCheck()))
  }

  /** Streamed feature rows must equal batch featureMatrixBy over the
    * same events on every shared column, and cover every batch row up
    * to the emission frontier: 17 bars before the newest, i.e. 15 bars
    * of label lead plus the 2 newest bars, whose windows the 5-minute
    * watermark has not closed yet. */
  private def featureCheck(): Option[String] = {
    val evDir = s"${ctx.out}/live_events"
    feed.sent.toSeq.toDF()
      .select($"event_id", $"ts", lit(0L).as("user_id"), $"event_type", $"value",
        lit("""{"k": 0}""").as("props"))
      .write.mode("overwrite").parquet(s"$evDir/events.parquet")
    val batch = graft.ops.Indicators.featureMatrixBy(spark, evDir)
    val streamed = spark.read.parquet(s"${main.root}/features").drop("batch_id")
    val cols = streamed.columns.filter(c => batch.columns.contains(c) &&
      c != "event_type" && c != "bucket").toSeq
    def keyed(df: DataFrame) = df
      .select(($"event_type" +: $"bucket".cast("string") +: cols.map(c => col(c).cast("string"))): _*)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (2 until r.length).map(r.getString)).toMap
    val got = keyed(streamed)
    val frontier = new Timestamp(feed.lastBucketMs - 17 * 300000L).toInstant.toString
      .replace("T", " ").stripSuffix("Z")
    val want = keyed(batch.filter($"bucket" <= lit(frontier).cast("timestamp")))
    val wrong = got.collect { case (k, v) if want.get(k).forall(_ != v) => k }
    if (got.isEmpty) Some("no feature rows were streamed")
    else if (wrong.nonEmpty) Some(s"${wrong.size} streamed rows differ from batch, e.g. " +
      s"${wrong.head}: ${got(wrong.head)} vs ${want.get(wrong.head)}")
    else if (got.size != want.size) Some(s"streamed ${got.size} rows, batch has " +
      s"${want.size} up to the frontier $frontier (missing e.g. " +
      s"${(want.keySet -- got.keySet).toSeq.sorted.headOption})")
    else None
  }

  def layers(m: Measured): Seq[(String, Double)] = Main.streamQueries.flatMap { q =>
    val all = progress.of(q)
    val live = all.filter(p => startMs(p) >= polls.head._1 - 1)
    def med(k: String) = Stats.median(live.map(_.durationMs.getOrDefault(k, 0L).toDouble))
    def ops(p: StreamingQueryProgress) = p.stateOperators.toSeq
    val pollLat = polls.map { case (s, e) =>
      val ends = live.filter(p => startMs(p) >= s - 1 && startMs(p) <= e).map(endMs)
      (if (ends.isEmpty) e else ends.max) - s
    }.toSeq
    val last = all.lastOption
    Seq(
      s"$q.poll_p50_ms" -> Stats.median(pollLat),
      s"$q.batches" -> all.count(_.numInputRows > 0).toDouble,
      s"$q.nodata_batches" -> all.count(_.numInputRows == 0).toDouble,
      s"$q.planning_ms" -> med("queryPlanning"),
      s"$q.add_batch_ms" -> med("addBatch"),
      s"$q.wal_ms" -> med("walCommit"),
      s"$q.offsets_ms" -> med("commitOffsets"),
      s"$q.state_commit_ms" -> Stats.median(live.map(ops(_).map(_.commitTimeMs).sum.toDouble)),
      s"$q.state_rows" -> last.map(ops(_).map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      s"$q.state_bytes" -> last.map(ops(_).map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      s"$q.late_rows_dropped" ->
        all.map(ops(_).map(_.numRowsDroppedByWatermark).sum.toDouble).sum)
  }

  override def close(): Unit = if (main != null) main.stop()
}

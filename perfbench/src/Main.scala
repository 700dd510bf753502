package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.TimestampType

import graft.{Schemas, SparkEntry, Tables}
import graft.pipeline.StatsPipeline
import graft.queries.Serving
import graft.streaming.Streaming
import graft.streaming.Streaming.ParquetUpsertSink

/** The benchmark's JVM. Runs one workload in `runDir` (inputs prepared
  * there by run.py) and writes the raw run record to `runDir/raw.json`;
  * run.py turns it into metrics.
  *
  * Usage: perfbench.Main <workload> <runDir> <seed> <seconds> <trace 0|1>
  */
object Main {
  val Tables5 = Seq("channel", "user", "emote", "user_emote", "phrase")
  /** Set-ups per run; setup_s is their median (with two, their mean: the
    * cold first and a warm second). A third would add a warm set-up's
    * 6-9 s to every run. */
  val Setups = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, seedS, secondsS, traceS) = args
    val seed = seedS.toLong
    val measureMs = secondsS.toDouble * 1000
    val rec = new Recorder(traceS == "1")
    val cpus = Runtime.getRuntime.availableProcessors()
    // The session graft.Bench builds: local[nproc], nproc shuffle
    // partitions, UTC, legacy-nanos reads, no UI.
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.attach(spark)
    val out = scala.collection.mutable.Map[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> cpus,
      "master" -> spark.sparkContext.master, "traced" -> rec.traced,
      "t0_epoch_ms" -> rec.t0EpochMs)
    try {
      val w = workload match {
        case "live_dashboard" => new Live(spark, rec, runDir, seed)
        case "curation_batch" => new Curation(spark, rec, runDir, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      out("setup_ms") = (0 until Setups).map { i =>
        val s0 = rec.nowMs
        w.setup(i, last = i == Setups - 1)
        rec.nowMs - s0
      }
      val gc0 = gcMs
      out("measure_start") = w.measure(measureMs)
      out("measure_end") = rec.nowMs
      out("gc_ms") = gcMs - gc0
      out ++= w.finish()
      out("finish_end") = rec.nowMs
    } catch {
      case e: Throwable =>
        out("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      out("peak_rss_kb") = peakRssKb
      out("spans") = rec.spans.asScala.toSeq
      out("events") = rec.events.asScala.toSeq
      out("jobs") = rec.jobRecords
      Json.write(s"$runDir/raw.json", out)
      spark.stop()
    }
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
  }

  /** Rows in `got` and not in `want` plus the reverse, per table; empty
    * when the streamed tables equal the batch aggregation. One job per
    * table, the five running concurrently. */
  def compareStats(spark: SparkSession, got: Map[String, DataFrame],
                   events: DataFrame, docs: DataFrame, dict: DataFrame): Seq[String] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val msgs = events.select(col("ts"), col("event_type").as("channel"),
      col("user_id").cast("string").as("username"), col("props").as("message"))
    val d = docs.select(col("lang").as("channel"), col("source").as("username"), col("text"))
    val want = Map(
      "channel" -> StatsPipeline.channelStats(msgs, Tables.WindowMillis),
      "user" -> StatsPipeline.userStats(msgs, Tables.WindowMillis),
      "emote" -> StatsPipeline.emoteStats(StatsPipeline.extractEmotes(d, dict)),
      "user_emote" -> StatsPipeline.userEmoteStats(StatsPipeline.extractEmotes(d, dict)),
      "phrase" -> StatsPipeline.phraseStats(
        StatsPipeline.matchPhrases(d, Tables.phrases, "text")))
    val checks = Tables5.map { t =>
      Future {
        val w = want(t)
        val cols = w.columns.toSeq
        val g = got(t).select(w.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
        val diff = g.withColumn("_side", lit(1)).unionByName(w.withColumn("_side", lit(-1)))
          .groupBy(cols.map(col): _*).agg(sum("_side").as("_d"))
          .agg(sum(when(col("_d") > 0, col("_d")).otherwise(0)).as("extra"),
            sum(when(col("_d") < 0, -col("_d")).otherwise(0)).as("missing"))
          .head()
        val (extra, missing) = (Option(diff.get(0)).fold(0L)(_.toString.toLong),
          Option(diff.get(1)).fold(0L)(_.toString.toLong))
        if (extra + missing == 0) None
        else Some(s"$t: $extra unexpected rows, $missing missing rows")
      }
    }
    checks.flatMap(f => Await.result(f, scala.concurrent.duration.Duration.Inf))
  }
}

trait Workload {
  /** One set-up; the run's measured phase continues from the last. */
  def setup(i: Int, last: Boolean): Unit
  /** Runs the measured phase for `durationMs`; returns its start. */
  def measure(durationMs: Double): Double
  def finish(): Map[String, Any]
}

/** The dashboard read mix over the stats tables. The seed picks the
  * channel, the language and where in [rangeStartMs, rangeEndMs) the
  * dashboard's fixed-length time range sits; the range's length is fixed so
  * that every seed reads the same amount. */
final class Dashboard(spark: SparkSession, rec: Recorder, seed: Long,
                      rangeStartMs: Long, rangeEndMs: Long) {
  private val rng = new scala.util.Random(seed)
  private val channel = Seq("error", "signup", "purchase", "view")(rng.nextInt(4))
  private val lang = Seq("en", "es", "zh", "de", "fr")(rng.nextInt(5))
  private val Day = Streaming.DayMillis
  private val start = rangeStartMs + Tables.WindowMillis *
    rng.nextInt(((rangeEndMs - rangeStartMs - 3 * Day) / Tables.WindowMillis).toInt + 1)
  private val end = start + 3 * Day

  val calls: Seq[(String, (String => DataFrame) => DataFrame)] = Seq(
    "trailing_sums" -> { s =>
      Serving.trailingSums(s("channel").filter(col("channel") === channel), end,
        Seq("m5" -> 300000L, "h1" -> 3600000L, "h24" -> Day, "d7" -> 7 * Day,
          "d30" -> 30 * Day), "messages")
    },
    "leaderboard_chatters_7d" -> { s =>
      Serving.leaderboard(s("user").filter(col("channel") === channel &&
        col("ts") > end - 7 * Day && col("ts") <= end), Seq("username"), "messages", 10)
    },
    "leaderboard_emotes" -> { s =>
      Serving.leaderboard(s("emote").filter(col("channel") === lang),
        Seq("emote"), "occurrences", 10)
    },
    "resample" -> { s =>
      Serving.resample(s("channel").filter(col("channel") === channel &&
        col("ts").between(start, end)), Seq("channel"), "messages", 100,
        Some(start), Some(end))
    },
    "cumulative_sums" -> { s =>
      Serving.cumulativeSums(s("channel").filter(col("channel") === channel &&
        col("ts").between(start, end)), Seq("channel"), "messages")
    },
    "ranked" -> { s =>
      Serving.ranked(s("user").filter(col("channel") === channel)
        .groupBy("username").agg(sum("messages").cast("long").as("messages")),
        "messages", "username")
    })

  /** Call `i` of the mix over the current table state. */
  def call(i: Int, state: String => DataFrame, kind: String = "serve"): Unit = {
    val (name, f) = calls(i)
    rec.span(spark.sparkContext, kind, name)(Main.noop(f(state)))
  }

  def cycle(state: String => DataFrame, kind: String = "serve"): Unit =
    calls.indices.foreach(call(_, state, kind))
}

/** Sink tables wired exactly as Streaming.runAllStats wires them. */
final class StatsSinks(base: String) {
  import Streaming.DayMillis
  val sinks: Map[String, ParquetUpsertSink] = Map(
    "channel" -> new ParquetUpsertSink(s"$base/channel", Seq("channel", "ts"),
      Seq("messages"), additive = false, tsBucket = Some(("ts", DayMillis))),
    "user" -> new ParquetUpsertSink(s"$base/user", Seq("channel", "username", "ts"),
      Seq("messages"), additive = false, tsBucket = Some(("ts", DayMillis))),
    "emote" -> new ParquetUpsertSink(s"$base/emote", Seq("channel", "emote"),
      Seq("occurrences"), additive = true),
    "user_emote" -> new ParquetUpsertSink(s"$base/user_emote",
      Seq("channel", "emote", "username"), Seq("occurrences"), additive = true),
    "phrase" -> new ParquetUpsertSink(s"$base/phrase", Seq("channel", "phrase_name"),
      Seq("matches"), additive = true))
  def table(spark: SparkSession)(t: String): DataFrame = sinks(t).state(spark).get
  def state(spark: SparkSession): Map[String, DataFrame] =
    sinks.map { case (t, s) => t -> s.state(spark).get }
}

/** live_dashboard. A set-up replays the history with
  * Streaming.runAllStats into empty sink tables (the backfill), copies
  * those tables for the dashboard and runs one dashboard cycle over the
  * copy. The live job then runs the five branches, wired as runAllStats
  * wires them, under Trigger.ProcessingTime over landing dirs that a
  * generator thread feeds one slice per period, upserting into the last
  * set-up's tables. One closed-loop dashboard client cycles the Serving mix
  * over the copy, which no sink rewrites: reads of a table a sink is
  * swapping fail (see README.md). The schedule and the history's time
  * range come from live.properties, written with the inputs. */
final class Live(spark: SparkSession, rec: Recorder, runDir: String, seed: Long)
    extends Workload {
  private val conf = {
    val p = new java.util.Properties
    val in = Files.newInputStream(Paths.get(s"$runDir/live.properties"))
    try p.load(in) finally in.close()
    (k: String) => Option(p.getProperty(k))
      .getOrElse(throw new IllegalStateException(s"live.properties has no $k"))
  }
  val TriggerMs: Long = conf("trigger_ms").toLong
  val SlicePeriodMs: Double = conf("slice_period_ms").toDouble
  val LiveBatchBase = 1000L
  private val landing = s"$runDir/landing"
  private val staging = s"$runDir/staging"
  private val historyDir = s"$runDir/history"
  private val dictDir = s"$runDir/dict"
  private def sinkOf(i: Int) = s"$runDir/setup-$i/sink"
  private def replicaOf(i: Int) = s"$runDir/setup-$i/replica"
  private val base = sinkOf(Main.Setups - 1)
  private val replica = replicaOf(Main.Setups - 1)
  private val dash = new Dashboard(spark, rec, seed,
    conf("history_start_ms").toLong, conf("live_start_ms").toLong)
  // slice file -> (event rows, document rows)
  private val sliceRows: Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(s"$staging/rows.txt")).asScala.map(_.split(" ")).map {
      case Array(f, e, d) => f -> (e.toLong, d.toLong)
    }.toMap
  private val slices = sliceRows.keys.toSeq.sorted
  private var landed = Vector.empty[Map[String, Any]]

  private def dict() = Tables.emoteDict(spark, dictDir)

  /** The live job on the backfilled sink tables. A file source cannot
    * resume a checkpoint under another path, so the job has checkpoints of
    * its own and continues each sink's batch numbering above the backfill's
    * (a sink skips batch ids it has committed). */
  private def liveQueries(): Seq[StreamingQuery] = {
    val b = base
    val sinks = new StatsSinks(b).sinks
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val msgs = spark.readStream.schema(Schemas.events).parquet(s"$landing/events")
      .withColumn("ts", col("ts").cast(TimestampType))
      .select(col("ts"), col("event_type").as("channel"),
        col("user_id").cast("string").as("username"), col("props").as("message"))
      .withWatermark("ts", "24 hours")
    val docs = spark.readStream.schema(Schemas.documents).parquet(s"$landing/documents")
      .select(col("lang").as("channel"), col("source").as("username"), col("text"))
    def upsert(t: String)(df: DataFrame, id: Long): Unit =
      rec.span(spark.sparkContext, "upsert", t, Map("batch" -> id))(
        sinks(t).upsert(df, LiveBatchBase + id))
        .left.foreach(e => throw new IllegalStateException(s"upsert $t/$id failed: $e"))
    def update(t: String, out: DataFrame) =
      out.writeStream.queryName(t).outputMode("update")
        .option("checkpointLocation", s"$b/$t.live.ckpt").trigger(trigger)
        .foreachBatch { (df: DataFrame, id: Long) => upsert(t)(df, id) }.start()
    def append(t: String, f: DataFrame => DataFrame) =
      docs.writeStream.queryName(t).outputMode("append")
        .option("checkpointLocation", s"$b/$t.live.ckpt").trigger(trigger)
        .foreachBatch { (df: DataFrame, id: Long) => upsert(t)(f(df), id) }.start()
    Seq(
      update("channel", StatsPipeline.channelStats(msgs, Tables.WindowMillis)),
      update("user", StatsPipeline.userStats(msgs, Tables.WindowMillis)),
      append("emote", df => StatsPipeline.emoteStats(StatsPipeline.extractEmotes(df, dict()))),
      append("user_emote", df => StatsPipeline.userEmoteStats(StatsPipeline.extractEmotes(df, dict()))),
      append("phrase", df => StatsPipeline.phraseStats(
        StatsPipeline.matchPhrases(df, Tables.phrases, "text"))))
  }

  /** Each set-up backfills into a fresh dir. After the last one, a traced
    * run times dashboard cycles with and without the job listener (the
    * tracing overhead); the live window keeps the listener attached, since
    * the stream threads' upserts run while the reader cycles. */
  def setup(i: Int, last: Boolean): Unit = {
    rec.span(spark.sparkContext, "backfill", "run_all_stats") {
      Streaming.runAllStats(spark, historyDir, sinkOf(i), Tables.WindowMillis,
        () => dict(), () => Tables.phrases)
    }.left.foreach(e => throw new IllegalStateException(s"runAllStats failed: $e"))
    Main.Tables5.foreach(t => Main.copyTree(s"${sinkOf(i)}/$t", s"${replicaOf(i)}/$t"))
    val tables = new StatsSinks(replicaOf(i)).table(spark) _
    dash.cycle(tables)
    if (last && rec.traced) {
      (0 until 4).foreach { k =>
        rec.setJobTracing(spark.sparkContext, on = k % 2 == 1)
        dash.cycle(tables, "probe")
      }
      rec.setJobTracing(spark.sparkContext, on = true)
    }
  }

  def measure(durationMs: Double): Double = {
    val qs = liveQueries()
    val tables = new StatsSinks(replica)
    // ProcessingTime triggers fire on multiples of the interval since the
    // epoch; the window opens just after one, so every run meets its
    // triggers at the same phase of the slice schedule.
    val now = System.currentTimeMillis()
    Thread.sleep((now / TriggerMs + 1) * TriggerMs + 200 - now)
    val t0 = rec.nowMs
    val stopAt = t0 + durationMs
    val gen = new Thread(() => {
      var k = 0
      while (k < slices.size && t0 + k * SlicePeriodMs < stopAt) {
        val due = t0 + k * SlicePeriodMs
        val wait = due - rec.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val f = slices(k)
        Seq("events", "documents").foreach { src =>
          Files.move(Paths.get(s"$staging/$src/$f"), Paths.get(s"$landing/$src/$f"),
            StandardCopyOption.ATOMIC_MOVE)
        }
        landed :+= Map("file" -> f, "due" -> due, "landed" -> rec.nowMs,
          "events" -> sliceRows(f)._1, "documents" -> sliceRows(f)._2)
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    // The reader stops at the window's end.
    var i = 0
    while (rec.nowMs < stopAt) {
      dash.call(i % dash.calls.size, tables.table(spark))
      i += 1
    }
    gen.join()
    // Drain: the job stops once each branch has committed every landed row.
    // (processAllAvailable would also wait for a trigger that finds no data.)
    val want = Map(
      "events" -> landed.map(_("events").asInstanceOf[Long]).sum,
      "documents" -> landed.map(_("documents").asInstanceOf[Long]).sum)
    def done(q: StreamingQuery) = {
      q.exception.foreach(e => throw e)
      val src = if (Set("channel", "user")(q.name)) "events" else "documents"
      q.recentProgress.map(_.numInputRows).sum >= want(src)
    }
    val drainDeadline = rec.nowMs + 90000
    while (!qs.forall(done)) {
      if (rec.nowMs > drainDeadline) throw new IllegalStateException("drain timed out")
      Thread.sleep(50)
    }
    qs.foreach(_.stop())
    t0
  }

  def finish(): Map[String, Any] = {
    def both(src: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).parquet(s"$historyDir/$src.parquet")
        .unionByName(spark.read.schema(schema).parquet(s"$landing/$src"))
    val ev = both("events", Schemas.events).withColumn("ts", col("ts").cast(TimestampType))
    val docs = both("documents", Schemas.documents)
    val live = new StatsSinks(base)
    val mismatches = Main.compareStats(spark, live.state(spark), ev, docs, dict())
    val histRows = Tables.events(spark, historyDir).count() +
      Tables.documents(spark, historyDir).count()
    Map("slices" -> landed, "history_rows" -> histRows, "mismatches" -> mismatches,
      "base" -> base, "replica" -> replica,
      "checkpoints" -> Main.Tables5.map(t => t -> s"$base/$t.live.ckpt").toMap)
  }
}

/** curation_batch: warm passes over curation operators (label propagation
  * of Graph; ROUGE-2 over the n-gram Jaccard pairs of Dedup) in a
  * seed-chosen order, each result written with the noop format. A set-up
  * is a pass that writes every result as parquet for the oracle check; the
  * first is cold. */
final class Curation(spark: SparkSession, rec: Recorder, runDir: String, seed: Long)
    extends Workload {
  val Ops = Seq("j61_label_propagation", "x114_rouge_pairs")
  private val order = new scala.util.Random(seed).shuffle(Ops)
  private val dataDir = s"$runDir/data"
  private var passes = Vector.empty[Map[String, Any]]

  private def pass(write: (String, DataFrame) => Unit): Unit = {
    val t0 = rec.nowMs
    order.foreach { name =>
      rec.span(spark.sparkContext, "op", name, Map("pass" -> passes.size)) {
        write(name, SparkEntry.queries(name)(spark, dataDir))
      }.left.foreach(e => throw new IllegalStateException(s"$name failed: $e"))
    }
    passes :+= Map("start" -> t0, "end" -> rec.nowMs,
      "traced" -> rec.jobListener.isDefined)
  }

  def setup(i: Int, last: Boolean): Unit = {
    pass((name, df) => df.write.mode("overwrite").parquet(s"$runDir/out/$name"))
    if (last)
      Json.write(s"$runDir/out/oracle_sql.json", Ops.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }

  /** As many whole passes as the window holds (at least one): a pass
    * starts only if one more pass of the last one's length still fits. */
  def measure(durationMs: Double): Double = {
    passes = Vector.empty
    val t0 = rec.nowMs
    val untilMs = t0 + durationMs
    var i = 0
    var last = 0.0
    while (i == 0 || rec.nowMs + last <= untilMs) {
      rec.setJobTracing(spark.sparkContext, i % 2 == 0)
      val s = rec.nowMs
      pass((_, df) => Main.noop(df))
      last = rec.nowMs - s
      i += 1
    }
    rec.setJobTracing(spark.sparkContext, on = true)
    t0
  }

  def finish(): Map[String, Any] =
    Map("passes" -> passes, "order" -> order, "mismatches" -> Seq.empty[String])
}

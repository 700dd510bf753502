package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory run record: spans around calls into the engine's public
  * functions, plus (when tracing) per-job metrics from a SparkListener and
  * per-batch progress from a StreamingQueryListener. Nothing is written
  * until [[Json.write]] at exit. */
final class Recorder(val traced: Boolean) {
  val t0: Long = System.nanoTime()
  val t0EpochMs: Long = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  private val nextSpan = new AtomicLong(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val events = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  /** Local property tagging every job a span's thread (and the threads it
    * starts) submits; the job listener keys its metrics by it. */
  val SpanKey = "perfbench.span"

  /** Runs `body` as one attempted operation. A throw is recorded as a
    * failed operation with its error condition and returned as Left. */
  def span[T](sc: SparkContext, kind: String, name: String,
              extra: Map[String, Any] = Map.empty)(body: => T): Either[String, T] = {
    val id = s"$kind:$name:${nextSpan.incrementAndGet()}"
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id)
    val start = nowMs
    val out =
      try Right(body)
      catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(Recorder.condition(e)) }
      finally sc.setLocalProperty(SpanKey, prev)
    val end = nowMs
    System.err.println(f"perfbench span $kind%s $name%s ${end - start}%.1f ms" +
      out.left.toOption.fold("")(" failed: " + _))
    spans.add(extra ++ Map("id" -> id, "kind" -> kind, "name" -> name,
      "start" -> start, "end" -> end, "ok" -> out.isRight,
      "error" -> out.left.toOption.orNull, "traced" -> jobListener.isDefined))
    out
  }

  def event(kind: String, fields: Map[String, Any]): Unit =
    events.add(fields + ("kind" -> kind) + ("t" -> nowMs))

  // ---- listeners (traced runs only) ----------------------------------------

  private val jobs = new ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  @volatile var jobListener: Option[SparkListener] = None

  private def bump(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m.synchronized { m(k) = m.getOrElse(k, 0L).asInstanceOf[Long] + v }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
      val m = mutable.Map[String, Any]("job" -> e.jobId, "t" -> nowMs,
        "span" -> prop(SpanKey), "query" -> prop("sql.streaming.queryId"),
        "batch" -> prop("streaming.sql.batchId"),
        "tasks" -> 0L, "shuffle_bytes" -> 0L, "input_bytes" -> 0L,
        "output_bytes" -> 0L, "gc_ms" -> 0L)
      m("materialized") = mutable.Set.empty[Int]
      jobs.put(e.jobId, m)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))).foreach { m =>
        val persisted = e.stageInfo.rddInfos.filter(_.storageLevel.isValid).map(_.id)
        m.synchronized { m("materialized").asInstanceOf[mutable.Set[Int]] ++= persisted }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { m =>
        bump(m, "tasks", 1)
        Option(e.taskMetrics).foreach { t =>
          bump(m, "shuffle_bytes", t.shuffleWriteMetrics.bytesWritten)
          bump(m, "input_bytes", t.inputMetrics.bytesRead)
          bump(m, "output_bytes", t.outputMetrics.bytesWritten)
          bump(m, "gc_ms", t.jvmGCTime)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      event("progress", Map("query" -> p.id.toString, "name" -> p.name,
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    jobListener = Some(listener)
  }

  /** Detach/re-attach the job listener so a traced run can time the same
    * operation with and without it (the tracing overhead). */
  def setJobTracing(sc: SparkContext, on: Boolean): Unit = if (traced) {
    if (on && jobListener.isEmpty) { sc.addSparkListener(listener); jobListener = Some(listener) }
    if (!on && jobListener.isDefined) { sc.removeSparkListener(listener); jobListener = None }
  }

  def jobRecords: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.map { m =>
      m.synchronized {
        (m - "materialized").toMap +
          ("materializations" -> m("materialized").asInstanceOf[mutable.Set[Int]].size)
      }
    }
}

object Recorder {
  /** Spark error condition (e.g. FAILED_READ_FILE.FILE_NOT_EXIST) of the
    * first SparkThrowable in the cause chain, else the exception class. */
  def condition(e: Throwable): String = {
    var c: Throwable = e
    while (c != null) {
      c match {
        case st: org.apache.spark.SparkThrowable if st.getCondition != null =>
          return st.getCondition
        case _ =>
      }
      c = c.getCause
    }
    e.getClass.getSimpleName
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case o: Option[_] => render(o.orNull)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v))
}

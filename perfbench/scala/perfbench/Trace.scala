package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call the benchmark made into the program. Counters are
  * what the listeners attributed to it (jobs it started, their tasks,
  * the query executions it ran) plus values the workload adds. */
final class Span(val id: Int, val runId: String, val name: String,
                 val parent: Int, val startNs: Long) {
  @volatile var endNs: Long = -1L
  // wall-clock bounds, to place query executions by their planning time
  val startMs: Long = System.currentTimeMillis()
  @volatile var endMs: Long = Long.MaxValue
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (endNs - startNs) / 1e9
  def add(key: String, v: Double): Unit = synchronized {
    counters(key) = counters.getOrElse(key, 0.0) + v
  }
}

/** One finished query execution: when it was planned, its planning
  * time, the broadcast bytes and files it produced, and its duration
  * when it wrote into a dedup index directory (the absorbs). */
final case class Exec(atMs: Long, planS: Double, broadcastBytes: Double, files: Double,
                      indexWriteS: Double)

/** Records spans around the benchmark's own calls into the program and
  * attributes Spark's listener events to them. Nothing inside the
  * program is instrumented: a span's id travels to the jobs it starts as
  * a local property (inherited by the streaming threads a span starts),
  * a query execution belongs to the innermost span open when it was
  * planned, and streaming progress belongs to the span that started the
  * query. Jobs outside every span (the benchmark's output checks) are
  * not counted.
  *
  * While `enabled` is false `span` only runs its body, so an untraced
  * pass pays nothing. Spans stay in memory until [[toJson]]. */
final class Tracer(val runId: String) {
  private val SpanProp = "perfbench.span"
  // where curation_day keeps its DedupIndex (see CurationDay)
  private val IndexDir = "/index/"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current: Int = -1
  var enabled = false
  /** Values the workload measured itself (row counts, sizes). */
  val notes: mutable.Map[String, Double] = mutable.Map.empty

  // listener-side attribution state
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobInfo = mutable.Map.empty[Int, (Span, Long, Boolean)]
  private val pendingExec = mutable.ArrayBuffer.empty[Exec]
  private val streamSpan = mutable.Map.empty[java.util.UUID, Span]
  private var listeners: Option[(SparkListener, QueryExecutionListener,
    StreamingQueryListener)] = None

  private def spanById(id: String): Option[Span] =
    Option(id).flatMap(s => s.toIntOption).filter(i => i >= 0 && i < spans.length)
      .map(spans(_))

  def span[T](spark: SparkSession, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val sp = new Span(spans.length, runId, name, current, System.nanoTime())
        spans += sp
        sp
      }
      val sc = spark.sparkContext
      stack = s :: stack
      current = s.id
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        current = stack.headOption.map(_.id).getOrElse(-1)
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add a value the benchmark measured itself; no-op when untraced. */
  def note(key: String, v: Double): Unit =
    if (enabled) notes(key) = notes.getOrElse(key, 0.0) + v

  def attach(spark: SparkSession): Unit = {
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        val props = Option(e.properties)
        spanById(props.map(_.getProperty(SpanProp)).orNull).foreach { s =>
          // jobs whose call site is the table loader: the schema jobs
          // `spark.read.parquet` starts inside graft.Tables
          val tables = e.stageInfos.exists(_.name.contains("Tables.scala"))
          jobInfo(e.jobId) = (s, e.time, tables)
          e.stageIds.foreach(stageSpan(_) = s)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        jobInfo.remove(e.jobId).foreach { case (s, t0, tables) =>
          val secs = (e.time - t0) / 1000.0
          s.add("jobs", 1); s.add("job_s", secs)
          if (tables) { s.add("tables_jobs", 1); s.add("tables_s", secs) }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Tracer.this.synchronized {
          stageSpan.get(e.stageInfo.stageId).foreach(_.add("stages", 1))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = Tracer.this.synchronized(stageSpan.get(e.stageId))
        s.foreach { sp =>
          sp.add("tasks", 1)
          Option(e.taskMetrics).foreach { m =>
            sp.add("task_s", m.executorRunTime / 1000.0)
            sp.add("cpu_s", m.executorCpuTime / 1e9)
            sp.add("gc_s", m.jvmGCTime / 1000.0)
            sp.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
            sp.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
            sp.add("spill_bytes", m.diskBytesSpilled.toDouble)
            sp.add("bytes_in", m.inputMetrics.bytesRead.toDouble)
            sp.add("bytes_out", m.outputMetrics.bytesWritten.toDouble)
          }
        }
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val phases = qe.tracker.phases
        val planS = phases.values.map(_.durationMs).sum / 1000.0
        // planning runs on the thread that executes the query, inside its span
        val at = phases.get("planning").orElse(phases.values.headOption)
          .map(_.startTimeMs).getOrElse(System.currentTimeMillis())
        var bcast = 0.0
        var files = 0.0
        var writesIndex = false
        walk(qe.executedPlan) { p =>
          p match {
            case b: BroadcastExchangeExec =>
              bcast += b.metrics.get("dataSize").map(_.value.toDouble).getOrElse(0.0)
            case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) =>
              writesIndex ||= w.outputPath.toString.contains(IndexDir)
            case _ =>
          }
          files += p.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0)
        }
        Tracer.this.synchronized {
          pendingExec += Exec(at, planS, bcast, files, if (writesIndex) durationNs / 1e9 else 0.0)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val stl = new StreamingQueryListener {
      // onQueryStarted runs synchronously inside start(), on the thread
      // that holds the open span
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        Tracer.this.synchronized {
          if (current >= 0) streamSpan(e.runId) = spans(current)
        }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val s = Tracer.this.synchronized(streamSpan.get(p.runId))
        def ms(k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        s.foreach { sp =>
          sp.add("trigger_s", ms("triggerExecution") / 1000.0)
          sp.add("commit_s", (ms("walCommit") + ms("commitOffsets")) / 1000.0)
        }
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(sl)
    spark.listenerManager.register(ql)
    spark.streams.addListener(stl)
    listeners = Some((sl, ql, stl))
  }

  /** Wait for every queued listener event, fold query executions into
    * their spans, and unregister the listeners. */
  def detach(spark: SparkSession): Unit = listeners.foreach { case (sl, ql, stl) =>
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sl)
    spark.listenerManager.unregister(ql)
    spark.streams.removeListener(stl)
    listeners = None
    synchronized {
      pendingExec.foreach { x =>
        spans.filter(s => s.startMs <= x.atMs && x.atMs <= s.endMs).lastOption.foreach { s =>
          s.add("plan_s", x.planS); s.add("broadcast_bytes", x.broadcastBytes)
          s.add("files", x.files); s.add("index_write_s", x.indexWriteS)
        }
      }
      pendingExec.clear(); stageSpan.clear(); jobInfo.clear(); streamSpan.clear()
    }
  }

  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      // counted where it was built, not at each reuse or cache scan
      case _: ReusedExchangeExec | _: InMemoryTableScanExec => Nil
      case other => other.children
    }
    (kids ++ p.subqueries).foreach(walk(_)(f))
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Self time: the span's duration minus the union of its children's
    * intervals (children run sequentially on the driver thread). */
  def selfSeconds: Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.seconds).sum
      s.id -> math.max(0.0, s.seconds - covered)
    }.toMap
  }

  def toJson(t0Ns: Long): String = {
    val self = selfSeconds
    all.map { s =>
      Json.obj(
        "id" -> s.id, "run" -> s.runId, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0Ns) / 1e9, "end_s" -> (s.endNs - t0Ns) / 1e9,
        "self_s" -> self(s.id),
        "counters" -> Json.obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> v }: _*))
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON writer for the benchmark's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case raw: RawJson => raw.text
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
  final case class RawJson(text: String)
}

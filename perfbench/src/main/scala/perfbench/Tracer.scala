package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval of the traced run; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task metrics summed over the tasks of one span's jobs. */
final class TaskTotals {
  var jobs = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def +=(o: TaskTotals): this.type = {
    jobs += o.jobs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes; taskMs ++= o.taskMs
    this
  }

  /** Max over median task time (the DS2 skew signal); 1.0 is perfectly even. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 1.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** Where the layer sequence opens its spans. */
trait Spans {
  def span[T](name: String)(body: => T): T
}

/** The untraced run: no spans, no listeners. */
object NoSpans extends Spans {
  def span[T](name: String)(body: => T): T = body
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * out once at the end. A benchmark-owned listener attributes every task to
  * the innermost span open when its job was submitted (through a job-local
  * property, which Spark also carries into broadcast and subquery threads),
  * and a query-execution listener keeps each span's executed plans so SQL
  * metrics can be read from them afterwards. */
final class Tracer(spark: SparkSession) extends Spans {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val totals = new ConcurrentHashMap[Int, TaskTotals]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val plans = new ConcurrentLinkedQueue[(Int, QueryExecution)]()
  @volatile private var current = -1

  private def totalsOf(id: Int): TaskTotals = totals.computeIfAbsent(id, _ => new TaskTotals)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt).foreach { id =>
        e.stageIds.foreach(stageSpan.put(_, id))
        totalsOf(id).jobs += 1
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val t = totalsOf(id)
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.spillBytes += m.diskBytesSpilled
        t.outputBytes += m.outputMetrics.bytesWritten
        t.taskMs += e.taskInfo.duration
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(current -> qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Run `body` inside a span that is a child of the currently open one. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, current, System.nanoTime())
    spans += s
    val prevProp = sc.getLocalProperty(Key)
    current = s.id
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      ListenerBusAccess.drain(sc)
      current = s.parent
      sc.setLocalProperty(Key, prevProp)
    }
  }

  def byName(name: String): Span =
    spans.find(_.name == name).getOrElse(sys.error(s"no span $name"))

  /** Task metrics of a span and all its descendants. */
  def inclusive(name: String): TaskTotals = {
    val root = byName(name).id
    def under(s: Span): Boolean = s.id == root || (s.parent >= 0 && under(spans(s.parent)))
    spans.filter(under).foldLeft(new TaskTotals)((acc, s) => acc += totalsOf(s.id))
  }

  def plansOf(name: String): Seq[QueryExecution] = {
    val id = byName(name).id
    plans.asScala.collect { case (`id`, qe) => qe }.toSeq
  }

  def close(): Unit = {
    ListenerBusAccess.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Spans as JSON rows, times in seconds from the first span's start. */
  def spanRows: Seq[Map[String, Any]] = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map { s =>
      val t = totalsOf(s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "jobs" -> t.jobs, "tasks" -> t.taskMs.size, "task_run_s" -> t.runMs / 1e3,
        "gc_s" -> t.gcMs / 1e3, "shuffle_write_bytes" -> t.shuffleWriteBytes,
        "shuffle_read_bytes" -> t.shuffleReadBytes, "spill_bytes" -> t.spillBytes,
        "output_bytes" -> t.outputBytes, "task_skew" -> t.taskSkew)
    }
  }
}

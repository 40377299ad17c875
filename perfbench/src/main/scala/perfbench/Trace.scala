package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a timed call from the benchmark into one layer.
  * `group` is shared by every span of one trigger or one query.
  */
final case class Span(id: Long, parent: Long, group: String, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-span engine counters, summed over the Spark jobs that started while
  * the span was the innermost active one on the submitting thread.
  */
final class EngineCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L

  def add(o: EngineCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorCpuNs += o.executorCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; inputBytes += o.inputBytes
    spillBytes += o.spillBytes
  }
}

/** In-memory span recorder. Spans nest per thread; a disabled tracer runs
  * the body and records nothing, so untraced runs pay one branch per call.
  * Spark jobs are attributed through a local property that names the
  * innermost span, read back by a `SparkListener`.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  private val countersBySpan = new ConcurrentHashMap[Long, EngineCounters]()
  private val spanOfStage = new ConcurrentHashMap[Int, Long]()
  val engineTotal = new EngineCounters
  val Prop = "perfbench.span"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toLong).getOrElse(0L)
      e.stageIds.foreach(s => spanOfStage.put(s, sid))
      counters(sid).synchronized { counters(sid).jobs += 1 }
      engineTotal.synchronized { engineTotal.jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val sid = spanOfStage.getOrDefault(e.stageInfo.stageId, 0L)
      counters(sid).synchronized { counters(sid).stages += 1 }
      engineTotal.synchronized { engineTotal.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val c = new EngineCounters
      c.tasks = 1
      c.executorCpuNs = m.executorCpuTime
      c.gcMs = m.jvmGCTime
      c.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      c.inputBytes = m.inputMetrics.bytesRead
      c.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      val sid = spanOfStage.getOrDefault(e.stageId, 0L)
      counters(sid).synchronized { counters(sid).add(c) }
      engineTotal.synchronized { engineTotal.add(c) }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  private def counters(sid: Long): EngineCounters =
    countersBySpan.computeIfAbsent(sid, _ => new EngineCounters)

  /** Run `body` inside a span. `group` defaults to the enclosing span's. */
  def span[T](layer: String, name: String, group: String = null)(body: => T): T = {
    if (!enabled) return body
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val g = Option(group).orElse(outer.headOption.map(_._2)).getOrElse("")
    val id = ids.incrementAndGet()
    val prevProp = sc.getLocalProperty(Prop)
    stack.set((id, g) :: outer)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, g, layer, name, t0, t1))
      stack.set(outer)
      sc.setLocalProperty(Prop, prevProp)
    }
  }

  private val opened = new ConcurrentHashMap[Long, Span]()

  /** Open a span that another callback closes (the merge seam is a pair of
    * callbacks, not a block). Jobs the current thread submits until `end`
    * are attributed to it.
    */
  def begin(layer: String, name: String, group: String): Long = {
    if (!enabled) return 0L
    val parent = stack.get().headOption.map(_._1).getOrElse(0L)
    val id = ids.incrementAndGet()
    opened.put(id, Span(id, parent, group, layer, name, System.nanoTime(), 0L))
    sc.setLocalProperty(Prop, id.toString)
    id
  }

  def end(id: Long): Unit = if (enabled) {
    val s = opened.remove(id)
    if (s != null) {
      spans.add(s.copy(endNs = System.nanoTime()))
      sc.setLocalProperty(Prop, if (s.parent == 0L) null else s.parent.toString)
    }
  }

  /** Drop an opened span that turned out to cover no work. */
  def cancel(id: Long): Unit = if (enabled) {
    val s = opened.remove(id)
    if (s != null)
      sc.setLocalProperty(Prop, if (s.parent == 0L) null else s.parent.toString)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def countersOf(spanId: Long): EngineCounters =
    Option(countersBySpan.get(spanId)).getOrElse(new EngineCounters)

  /** Self time of each span: its duration minus the union of the
    * intervals its direct children cover.
    */
  def selfMs: Map[Long, Double] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      cs.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Spans as JSON lines, with self time and attributed engine counters. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val sb = new StringBuilder
    all.foreach { s =>
      val c = countersOf(s.id)
      sb.append(Json.obj(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "parent" -> s.parent, "group" -> s.group,
        "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ms" -> s.ms,
        "self_ms" -> self(s.id), "jobs" -> c.jobs, "tasks" -> c.tasks,
        "executor_cpu_ms" -> c.executorCpuNs / 1e6,
        "shuffle_write_bytes" -> c.shuffleWriteBytes))).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

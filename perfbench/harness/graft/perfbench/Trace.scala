package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span (-1 for a
  * root) and `req` the request the span belongs to (-1 outside requests).
  */
final class Span(val id: Int, val parent: Int, val req: Int, val name: String,
                 val startNs: Long) {
  var endNs: Long = 0L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
}

/** In-memory span recorder. Disabled, `span` only runs its body: no
  * clock reads, no allocation, no Spark job groups. Enabled, every span
  * sets the Spark job group to its id so [[SparkCounts]] can attribute
  * jobs, stages and tasks to the span that started them.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = sc = context

  def span[A](name: String, req: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.length, parent.map(_.id).getOrElse(-1),
        if (req >= 0) req else parent.map(_.req).getOrElse(-1), name, System.nanoTime())
      spans += s
      stack = s :: stack
      if (sc != null) sc.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        if (sc != null) stack.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Attach a value to the innermost open span (no-op when disabled). */
  def attr(key: String, value: Any): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  def records(counts: Option[SparkCounts]): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map[String, Any]("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "attrs" -> s.attrs.toMap,
      "spark" -> counts.map(_.forSpan(s.id)).getOrElse(Map.empty))
  }
}

/** SparkListener that counts jobs, stages, tasks, input, shuffle and
  * spill bytes per job group, i.e. per span. Per stage it keeps the task
  * run times, from which max/median task time of the widest stage is
  * derived. Events arrive on the listener bus thread.
  */
final class SparkCounts extends SparkListener {
  private final class Acc {
    var jobs, stages, tasks = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill = 0L
    val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(org.apache.spark.PerfbenchBus.JobGroupKey)))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt).getOrElse(-1)

  private def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = acc(spanOf(e.properties))
    a.synchronized(a.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val span = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, span)
    val a = acc(span)
    a.synchronized(a.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (m != null) {
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def forSpan(span: Int): Map[String, Any] = Option(accs.get(span)) match {
    case None => Map.empty
    case Some(a) => a.synchronized {
      Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "input_bytes" -> a.inputBytes, "shuffle_write_bytes" -> a.shuffleWrite,
        "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
        "stage_task_ms" -> a.taskMs.toSeq.sortBy(_._1).map(_._2.toSeq))
    }
  }
}

/** Heap still in use after a forced collection, and the JVM's total GC
  * time.
  */
final class HeapWatch {
  import java.lang.management.ManagementFactory

  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Two collections around a short pause: the first lets Spark's
    * ContextCleaner release the broadcasts and shuffles of dropped plans,
    * the second frees them, so the figure does not depend on its timing.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
}

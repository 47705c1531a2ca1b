package graftbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task totals of one Spark job group. */
final class GroupStats {
  var jobs = 0
  var taskMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the group's heaviest stage (1.0 when it
    * ran fewer than two tasks). */
  def skew: Double = {
    val heavy = stageTaskMs.values.filter(_.size >= 2).maxByOption(_.sum)
    heavy.map { d =>
      val s = d.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }.getOrElse(1.0)
  }

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }
}

/** Attributes task time, shuffle and spill to the job group that was set
  * when each job started (the benchmark sets one group per span). */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupStats)
      g.taskMs += m.executorRunTime
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      g.spill += m.diskBytesSpilled
      g.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  /** Removes and returns the totals of every group seen since the last
    * call, by group id. */
  def drain(spark: SparkSession): Map[String, GroupStats] = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    synchronized {
      val out = groups.toMap
      groups.clear()
      out
    }
  }
}

object GroupStats {
  def sum(gs: Iterable[GroupStats]): GroupStats = {
    val out = new GroupStats
    gs.foreach(out.add)
    out
  }
}

/** JVM-side gauges: cumulative GC time and the heap still live after a
  * full collection. */
object Jvm {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcMs: Long = beans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Full collection (outside any timed window); returns the live heap.
    * Two collections 200 ms apart: the first lets Spark's ContextCleaner
    * drop the broadcasts and shuffles that became unreachable, the second
    * measures what is left. */
  def collect(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** One span per call into a layer: name, parent, start and end. Kept in
  * memory and written with the report. When tracing is on, the span's
  * name is also the Spark job group, so the listener can attribute task
  * metrics to it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

final class Tracer(spark: SparkSession, var on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.head
    stack = id :: stack
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    if (on) sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      spans += Span(id, parent, name, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack = stack.tail
      if (on) {
        if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
      }
    }
  }

  def spanList: Seq[Span] = spans.toSeq
}

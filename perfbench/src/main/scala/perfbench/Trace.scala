package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Span recorder for the traced run. A span wraps one public engine call:
  * name, start, end, parent and operation id. While a span is open its id is
  * the Spark job group, so the listener below can charge every task to the
  * innermost span that caused it. With `enabled = false` spans only run
  * their body and `materialize` returns its input: the timed runs execute
  * the same code with no tracing work. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  final case class Rec(id: Int, name: String, parent: Int, op: Int,
                       start: Long, var end: Long = 0L)

  val spans: mutable.ArrayBuffer[Rec] = mutable.ArrayBuffer.empty
  private var stack: List[Rec] = Nil
  private var op = -1
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  val listener = new StageListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val rec = Rec(spans.length, name, stack.headOption.fold(-1)(_.id), op, System.nanoTime())
      spans += rec
      stack = rec :: stack
      spark.sparkContext.setJobGroup(rec.id.toString, name)
      try body
      finally {
        rec.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** One closed-loop operation; its spans carry `opId`. */
  def operation[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    try span(name)(body) finally op = -1
  }

  /** Traced runs only: persist + count at a layer boundary so the layer's
    * work runs inside its own span instead of in whichever later action
    * first needs it. Released by [[release]] at the end of the operation. */
  def materialize(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      persisted += p
      p
    }

  def release(): Unit = { persisted.foreach(_.unpersist(blocking = true)); persisted.clear() }

  /** Wall seconds of `r` not covered by its direct children. */
  def selfSeconds(r: Rec): Double = {
    val kids = spans.filter(_.parent == r.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (kids.nonEmpty) covered += curE - curS
    ((r.end - r.start) - covered) / 1e9
  }

  def seconds(r: Rec): Double = (r.end - r.start) / 1e9
}

/** Per-stage task statistics, keyed by the job group (span id) of the job
  * that ran the stage. */
final class StageListener extends SparkListener {
  final class Agg {
    var tasks = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0L
    val runMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }
  private val stageGroup = mutable.HashMap.empty[Int, String]
  /** span id -> stage id -> stats */
  val bySpan: mutable.HashMap[String, mutable.HashMap[Int, Agg]] = mutable.HashMap.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup(s) = id))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      if (m != null) {
        val a = bySpan.getOrElseUpdate(g, mutable.HashMap.empty).getOrElseUpdate(e.stageId, new Agg)
        a.tasks += 1
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.runMs += m.executorRunTime
      }
    }
  }

  /** shuffle_write_bytes, spill_bytes, gc_s, tasks, task_skew for one span.
    * task_skew is max / median task run time within the span's dominant
    * stage (the one with the most summed task time); 0 without tasks. */
  def stats(spanIds: Seq[Int]): Map[String, Double] = synchronized {
    val stages = spanIds.flatMap(id => bySpan.get(id.toString).toSeq.flatMap(_.values))
    val skew =
      if (stages.isEmpty) 0.0
      else {
        val dom = stages.maxBy(_.runMs.sum)
        val s = dom.runMs.sorted
        val med = s(s.length / 2).toDouble
        if (med > 0) s.last / med else 1.0
      }
    Map(
      "shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "gc_s" -> stages.map(_.gcMs).sum / 1000.0,
      "tasks" -> stages.map(_.tasks).sum.toDouble,
      "task_skew" -> skew)
  }
}

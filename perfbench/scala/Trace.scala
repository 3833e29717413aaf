package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, recorded by the benchmark around that call.
  * Times are wall-clock milliseconds so Spark's own event times (job,
  * stage and planning-phase starts) can be placed inside spans. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, var endMs: Long)

/** Scheduler facts for one job, keyed by the job group (= span id) that was
  * set when the job was submitted. */
final class JobRec(val group: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Listener that backs both the end-to-end cache metrics (always on) and
  * the per-layer scheduler metrics (read only in traced runs).
  *
  * Cache accounting follows RDD block updates: the resident bytes of every
  * persisted RDD block (memory + disk), their running total and its peak,
  * the bytes written into the block store and the number of blocks dropped
  * by the block manager (evictions; unpersisted RDDs are not counted). */
final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val blocks = mutable.HashMap[String, Long]()
  private var resident = 0L
  var peakBytes = 0L
  var writtenBytes = 0L
  var droppedBlocks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val rec = new JobRec(if (group == null) "" else group, e.time)
    rec.stages = e.stageInfos.size
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { rec =>
      rec.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.runMs += m.executorRunTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val before = blocks.getOrElse(key, 0L)
      if (size > 0) {
        blocks(key) = size
        if (size > before) writtenBytes += size - before
      } else if (blocks.remove(key).isDefined) droppedBlocks += 1
      resident += size - before
      if (resident > peakBytes) peakBytes = resident
    }
  }

  // an unpersist removes its blocks without a block update per block
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.keys.filter(_.startsWith(prefix)).toList.foreach { k => resident -= blocks.remove(k).get }
  }

  /** Restart the peak from what is resident now (the measured phase). */
  def resetPeak(): Unit = synchronized { peakBytes = resident }
}

/** Catalyst phase times per query, from each execution's
  * `QueryPlanningTracker`, with the wall-clock start of its analysis so the
  * record can be placed in the span that ran it. */
final class PlanListener extends QueryExecutionListener {
  val records = mutable.ArrayBuffer[(Long, Long, Long, Long)]()

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    records += ((start, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** In-memory span recorder. Disabled, `span` only runs the body, so an
  * untraced run pays nothing for it. Enabled, each span sets its id as the
  * Spark job group for the jobs submitted inside it and restores the
  * enclosing span's group on exit.
  *
  * The listeners run in traced and untraced runs alike, so this
  * bookkeeping is all that tracing adds; `bookkeepingNs` sums the time
  * spent in it, outside the spans' bodies. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 1L
  var bookkeepingNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val enter = System.nanoTime()
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), name,
        System.currentTimeMillis(), 0L)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name, interruptOnCancel = false)
      bookkeepingNs += System.nanoTime() - enter
      try body
      finally {
        val exit = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        bookkeepingNs += System.nanoTime() - exit
      }
    }
}

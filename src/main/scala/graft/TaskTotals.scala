package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** SparkListener totalling the task metrics that show whether a query
  * survives partitions that no longer fit in memory: shuffle spill
  * (memory and disk), peak per-task execution memory, and shuffle
  * write/read volume. On a fixed heap a healthy operator spills
  * gracefully in its sort/aggregate stages; a memory-unbounded shape
  * (a hash agg over a corpus-sized key space, an ungated broadcast)
  * shows as spill that grows with the replica, or as an OOM.
  *
  * [[take]] returns the totals of every task since the previous take
  * and resets them, so consecutive queries each start from zero.
  */
final class TaskTotals extends SparkListener {
  private val spillMem = new AtomicLong
  private val spillDisk = new AtomicLong
  private val peakTaskMem = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      spillMem.addAndGet(m.memoryBytesSpilled)
      spillDisk.addAndGet(m.diskBytesSpilled)
      peakTaskMem.getAndAccumulate(m.peakExecutionMemory, Math.max _)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def take(sc: SparkContext): TaskTotals.Mb = {
    // listener events post asynchronously; drain the bus so the totals
    // cover every task of the jobs just finished
    org.apache.spark.graft.ListenerDrain.drain(sc)
    def takeMb(c: AtomicLong): Double =
      math.round(c.getAndSet(0L) / 1048.576) / 1000.0
    TaskTotals.Mb(takeMb(spillMem), takeMb(spillDisk), takeMb(peakTaskMem),
      takeMb(shuffleWrite), takeMb(shuffleRead))
  }
}

object TaskTotals {
  /** One take's totals in MB (three decimals). */
  final case class Mb(spillMem: Double, spillDisk: Double,
      peakTaskMem: Double, shuffleWrite: Double, shuffleRead: Double) {
    def jsonFields: String =
      s""""spill_mem_mb":$spillMem,"spill_disk_mb":$spillDisk,""" +
        s""""peak_task_mem_mb":$peakTaskMem,"shuffle_write_mb":$shuffleWrite,""" +
        s""""shuffle_read_mb":$shuffleRead"""
  }
}

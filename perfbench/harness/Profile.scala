// In Spark's package only to reach `listenerBus.waitUntilEmpty`, so that a
// counter read after an operation includes every event the operation caused.
package org.apache.spark.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Work counters at one instant. Differences of two snapshots give the
  * work done between them. */
final case class Counters(
    cpuS: Double, tasks: Long, stages: Long, jobs: Long,
    shuffleWriteMb: Double, shuffleRecords: Long, spillMb: Double,
    inputMb: Double, outputMb: Double, gcS: Double,
    codegenS: Double, codegenClasses: Long) {
  def -(o: Counters): Counters = Counters(
    cpuS - o.cpuS, tasks - o.tasks, stages - o.stages, jobs - o.jobs,
    shuffleWriteMb - o.shuffleWriteMb, shuffleRecords - o.shuffleRecords,
    spillMb - o.spillMb, inputMb - o.inputMb, outputMb - o.outputMb, gcS - o.gcS,
    codegenS - o.codegenS, codegenClasses - o.codegenClasses)
}

/** The one work-profile collector every workload uses: a SparkListener for
  * executor CPU, shuffle, spill, jobs, stages and tasks; the bytes of RDD
  * blocks in the block manager (memory plus disk) with their peak; Spark's
  * codegen counters; and GC time from the JVM's collector beans. */
final class WorkProfile(sc: SparkContext) extends SparkListener {
  private val mb = 1e6
  @volatile private var cpuNs = 0L
  @volatile private var tasks = 0L
  @volatile private var stages = 0L
  @volatile private var jobs = 0L
  @volatile private var shuffleBytes = 0L
  @volatile private var shuffleRecords = 0L
  @volatile private var spillBytes = 0L
  @volatile private var inputBytes = 0L
  @volatile private var outputBytes = 0L
  private val blocks = new ConcurrentHashMap[String, (Long, Long)]()
  @volatile private var blockTotal = 0L
  @volatile private var blockPeak = 0L

  sc.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  // RDD blocks only: cached and pinned rows. Broadcast pieces are freed by
  // the context cleaner when the driver collects garbage, at no fixed time.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) updateBlock(i)
  }
  private def updateBlock(i: org.apache.spark.storage.BlockUpdatedInfo): Unit = {
    val key = i.blockId.name
    val now = (i.memSize, i.diskSize)
    val before = Option(blocks.put(key, now)).getOrElse((0L, 0L))
    if (now == ((0L, 0L))) blocks.remove(key)
    blockTotal += now._1 + now._2 - before._1 - before._2
    if (blockTotal > blockPeak) blockPeak = blockTotal
  }
  // unpersisting an RDD removes its blocks without a block update
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blocks.asScala.keys.filter(_.startsWith(prefix)).toList.foreach { k =>
      val (m, d) = blocks.remove(k)
      blockTotal -= m + d
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def snapshot(): Counters = {
    drain()
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    synchronized {
      Counters(cpuNs / 1e9, tasks, stages, jobs,
        shuffleBytes / mb, shuffleRecords, spillBytes / mb,
        inputBytes / mb, outputBytes / mb, gcMs / 1e3,
        CodeGenerator.compileTime / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
  }

  def peakBlockMb: Double = { drain(); blockPeak / mb }
  def resetPeak(): Unit = { drain(); synchronized { blockPeak = blockTotal } }
  def close(): Unit = sc.removeSparkListener(this)
}

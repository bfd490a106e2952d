package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable.ArrayBuffer

/** The benchmark's own `SparkListener`: task-level counters and SQL
  * executions observed from outside the program. [[window]] brackets one
  * pass and returns what happened during it.
  */
final class SparkStats extends SparkListener {
  import SparkStats._

  private val tasks = ArrayBuffer.empty[Task]
  private val sqls = ArrayBuffer.empty[Sql]
  private val sqlById = scala.collection.mutable.HashMap.empty[Long, Sql]
  private var jobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.stageAttemptId, m.executorRunTime,
      m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val sql = Sql(s.rootExecutionId.forall(_ == s.executionId),
        writePath(s.sparkPlanInfo), s.time)
      sqls += sql
      sqlById(s.executionId) = sql
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlById.remove(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum

  /** Runs `f` and returns its result with the counters it produced. Task
    * end events arrive asynchronously, so the listener bus is drained first.
    */
  def window[T](spark: org.apache.spark.sql.SparkSession)(f: => T): (T, Window) = {
    val (t0, q0, j0, g0) = synchronized((tasks.size, sqls.size, jobs, gcMs))
    val s0 = System.nanoTime()
    val out = f
    val wall = (System.nanoTime() - s0) / 1e9
    Bench.drainListenerBus(spark)
    synchronized {
      (out, Window(jobs - j0, tasks.slice(t0, tasks.size).toSeq,
        sqls.slice(q0, sqls.size).toSeq, wall, (gcMs - g0) / 1e3))
    }
  }
}

object SparkStats {
  private val WritePath = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r

  /** The target of a file-writing plan (`df.write...`), from its write node. */
  def writePath(p: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] =
    WritePath.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.flatMap(writePath).nextOption())

  final case class Task(stage: Int, attempt: Int, runMs: Long, inputBytes: Long,
      shuffleWriteBytes: Long, spillBytes: Long)

  /** One SQL execution: a top-level one (not nested in another), the path
    * it writes if it is a file write, and its start and end (epoch ms).
    */
  final case class Sql(topLevel: Boolean, writes: Option[String], startMs: Long) {
    var endMs: Long = -1L
  }

  final case class Window(jobs: Int, tasks: Seq[Task], sqls: Seq[Sql], wallS: Double, gcS: Double) {
    def busyS: Double = tasks.map(_.runMs).sum / 1e3
    def coreUtil(cores: Int): Double = busyS / (wallS * cores)
    def inputBytes: Long = tasks.map(_.inputBytes).sum
    def shuffleWriteMb: Double = tasks.map(_.shuffleWriteBytes).sum / 1e6
    def spillMb: Double = tasks.map(_.spillBytes).sum / 1e6
    /** Largest (slowest task / median task) over stages of >= 4 tasks. */
    def maxTaskOverMedian: Double = {
      val ratios = tasks.groupBy(t => (t.stage, t.attempt)).values.filter(_.size >= 4).map { ts =>
        val ms = ts.map(_.runMs.toDouble).sorted
        ms.last / math.max(ms(ms.size / 2), 1.0)
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }
}

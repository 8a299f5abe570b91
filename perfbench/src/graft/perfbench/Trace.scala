package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Scheduler counters of one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes; outputBytes += o.outputBytes
  }
}

/** Benchmark-owned listener: attributes jobs, stages and task metrics to
  * the job group the benchmark set on the calling thread before each call
  * into the program (`SparkContext.setJobGroup`), so each op phase gets
  * its own counts. Registered only in the traced run.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val byGroup = mutable.HashMap.empty[String, Counters]

  private def acc(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      acc(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = acc(g)
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counters of group `g`; call after the listener bus has drained. */
  def group(g: String): Counters = synchronized { byGroup.getOrElse(g, new Counters) }
}

/** One traced interval. `parent` is the id of the enclosing span, -1 at
  * the top; every span of one op shares its `op` id.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, op: String)(body: => T): T = {
    val id = all.size
    all += null
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      all(id) = Span(id, parent, name, op, t0, System.nanoTime())
      open = open.tail
    }
  }
}

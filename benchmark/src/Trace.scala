package psibench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark-runtime totals of one job group (one benchmark operation phase). */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var mapTaskMs = 0L
  var reduceTaskMs = 0L
  /** stageId -> task durations (ms), for the skew of the widest stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def stages: Int = stageTasks.size

  /** max ÷ median task time of the stage with the most tasks */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val ds = stageTasks.values.maxBy(_.size).sorted
      val med = ds(ds.size / 2).max(1L)
      ds.last.toDouble / med
    }
}

/** Attributes Spark task metrics to the job group that was set on the
  * benchmark thread when the job started. One client runs at a time, so a
  * group holds exactly one operation's work. Events arrive on Spark's
  * listener bus after the operation returns; [[awaitQuiet]] waits for them.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val groups = mutable.Map.empty[String, GroupStats]
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var started = 0L
  @volatile private var ended = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime(); started += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    groups.getOrElseUpdate(g, new GroupStats).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime(); ended += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (m == null) return
    val g = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "(none)"), new GroupStats)
    val ms = m.executorRunTime
    val readsShuffle = m.shuffleReadMetrics.totalBlocksFetched > 0
    g.tasks += 1
    g.taskMs += ms
    g.cpuMs += m.executorCpuTime / 1000000L
    g.gcMs += m.jvmGCTime
    g.inputBytes += m.inputMetrics.bytesRead
    g.inputRows += m.inputMetrics.recordsRead
    g.outputBytes += m.outputMetrics.bytesWritten
    g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    g.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (readsShuffle) g.reduceTaskMs += ms else g.mapTaskMs += ms
  }

  /** Wait until every started job has ended and the bus has been quiet for a
    * moment (bounded, so a stuck bus cannot hang the run).
    */
  def awaitQuiet(maxMs: Long = 15000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
      (started != ended || System.nanoTime() - lastEventNs < 300000000L))
      Thread.sleep(50)
  }

  def get(g: String): GroupStats = synchronized(groups.getOrElse(g, new GroupStats))
}

/** One span: a layer boundary crossed by the benchmark. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder; written out once, when the run ends. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Runs `body` inside a span; when tracing is on it also sets the Spark
    * job group `op.name` so the listener attributes the span's jobs.
    */
  def span[A](sc: org.apache.spark.SparkContext, name: String, op: String,
              parent: Int = -1)(body: Int => A): A = {
    val id = nextId; nextId += 1
    if (on) sc.setJobGroup(s"$op.$name", name)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      if (on) {
        sc.clearJobGroup()
        spans += Span(id, parent, name, op, t0, t1)
      }
    }
  }
}

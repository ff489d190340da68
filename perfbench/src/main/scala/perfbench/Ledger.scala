package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task metrics folded per Spark job, keyed by the job group the job ran
  * under: `e<epoch>-<stage>` for the crawl stages (set by `CrawlEpoch`), and
  * `bench-<call>` for every call the benchmark makes itself. Registered only
  * in the traced run. */
final class GroupListener extends SparkListener {
  import GroupListener._

  final class Job(val id: Int, val group: String, val startMs: Long) {
    @volatile var endMs = 0L
    val m = new Array[Double](Fields.size)
    @volatile var tasks = 0
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val group = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    val j = new Job(js.jobId, group, js.time)
    jobs.put(js.jobId, j)
    js.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(te.stageId)).foreach { j =>
      val t = te.taskMetrics
      if (t != null) j.synchronized {
        j.tasks += 1
        j.m(0) += t.executorRunTime / 1e3
        j.m(1) += t.executorCpuTime / 1e9
        j.m(2) += t.jvmGCTime / 1e3
        j.m(3) += t.inputMetrics.bytesRead / 1e6
        j.m(4) += (t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead) / 1e6
        j.m(5) += t.shuffleWriteMetrics.bytesWritten / 1e6
        j.m(6) += (t.memoryBytesSpilled + t.diskBytesSpilled) / 1e6
      }
    }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
}

object GroupListener {
  /** Per-job task metric fields, in `Job.m` order. */
  val Fields: Seq[String] =
    Seq("task_s", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
}

/** One traced interval: a public call the benchmark made, or a section. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, startNs: Long,
    var endMs: Long = 0L, var endNs: Long = 0L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written once, when the run ends. */
final class Spans {
  val all = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()

  def apply[A](name: String)(f: => A): (A, Span) = {
    val s = Span(all.size, stack.headOption.getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    stack.push(s.id)
    try { val a = f; (a, s) }
    finally { stack.pop(); s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }
  }
}

/** Window health of one timed section: this JVM's GC wall and the host's
  * CPU-steal ticks (`/proc/stat`), as `graft.Bench` reports them. */
object Window {
  def gcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().find(_.startsWith("cpu ")).getOrElse("") finally src.close()
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Exception => -1L }

  /** Kernel clock ticks per second of /proc/stat counters. */
  val TicksPerS = 100.0

  final case class Health(wallS: Double, gcS: Double, steal: Long, ok: Boolean)

  object Health {
    /** Several measured sections as one: walls, GC and steal add up (steal
      * is unknown, -1, if it is in any section), and it is ok only when
      * every section is. */
    def sum(hs: Seq[Health]): Health = Health(hs.map(_.wallS).sum, hs.map(_.gcS).sum,
      if (hs.exists(_.steal < 0)) -1L else hs.map(_.steal).sum, hs.forall(_.ok))
  }

  /** Runs `f` and measures its window. `ok` is false when GC took more than
    * a tenth of the wall, or steal took more than a twentieth of the cores'
    * time. It only marks the section; nothing is re-run or dropped. */
  def measure[A](cores: Int)(f: => A): (A, Health) = {
    val (g0, s0, t0) = (gcS(), stealTicks(), System.nanoTime())
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcS() - g0
    val s1 = stealTicks()
    val steal = if (s0 < 0 || s1 < 0) -1L else s1 - s0
    val ok = gc <= 0.1 * wall && steal >= 0 && steal <= 0.05 * wall * cores * TicksPerS
    (a, Health(wall, gc, steal, ok))
  }
}

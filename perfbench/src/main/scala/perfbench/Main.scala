package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line options. `run.py` passes the paths and the core count; the
  * rest is the benchmark contract's `--workload --seed --seconds --trace`. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, data: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("out"), need("data"), need("cores").toInt)
  }
}

/** State of one benchmark run: the session, the traced spans and job
  * ledger (trace mode only), the metrics, and the checks. */
final class Ctx(val spark: SparkSession, val o: Opts, val t0: Long) {
  val spans = new Spans
  /** The traced run's listener; registered only around its traced window. */
  val listener: Option[GroupListener] = Option.when(o.trace)(new GroupListener)

  /** Every end-to-end metric, and in trace mode every per-layer one; the
    * layers a workload does not exercise stay 0. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double](Metrics.perLayer.map(_ -> 0.0): _*)
  val info = mutable.LinkedHashMap[String, Any]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0
  var failed = 0

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += ((name, ok, detail))
    if (!ok) failed += 1
  }

  /** Runs one public call under the job group `bench-<name>` and a span. */
  def call[A](name: String)(f: => A): (A, Span) = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"bench-$name", name)
    try spans(name)(f) finally sc.clearJobGroup()
  }

  private var dirs = 0
  /** A fresh, empty directory under the run's work directory. */
  def freshDir(tag: String): String = {
    dirs += 1
    Files.createDirectories(Paths.get(o.work, "state", s"$tag-$dirs")).toString
  }

  def wipe(path: String): Unit = Main.wipe(Paths.get(path))

  var setupS = Double.NaN
  var setupEndMs = Long.MaxValue
  def setupDone(): Unit = {
    setupS = (System.nanoTime() - t0) / 1e9
    setupEndMs = System.currentTimeMillis()
  }

  def traceOn(): Unit = listener.foreach(spark.sparkContext.addSparkListener)

  /** Waits until the listener has seen every job submitted so far (a
    * sentinel job is the last event on the FIFO listener bus), then
    * detaches it. */
  def traceOff(): Unit = listener.foreach { l =>
    call("sentinel")(spark.range(1).count())
    val deadline = System.nanoTime() + 60000000000L
    while (System.nanoTime() < deadline && l.jobs.values.asScala.exists(_.endMs == 0L))
      Thread.sleep(20)
    spark.sparkContext.removeSparkListener(l)
  }
}

object Main {

  def wipe(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    val all = try s.iterator().asScala.toSeq finally s.close()
    all.reverse.foreach(x => Files.deleteIfExists(x))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (statistics.quantiles' inclusive rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** JSON reader and writer of the result, the info line and the trace;
    * the Scala module serializes Scala maps and sequences. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = Opts.parse(args)
    require(Set("epoch_full", "crawl_drain", "c5_queries")(o.workload),
      s"unknown workload ${o.workload}")
    val spark = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[${o.cores}]")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val c = new Ctx(spark, o, t0)
    val code =
      try {
        o.workload match {
          case "epoch_full" => Workloads.epochFull(c)
          case "crawl_drain" => Workloads.crawlDrain(c)
          case "c5_queries" => Workloads.c5Queries(c)
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          c.failed += 1
          c.check("no_exception", ok = false, e.toString)
          1
      }
    c.info("setup_calls_s") = c.spans.all.filter(s => s.parent < 0 && s.endMs <= c.setupEndMs)
      .groupMapReduce(_.name)(_.wallS)(_ + _)
    if (o.trace) writeTrace(c)
    c.e2e("setup_s") = c.setupS
    val metrics = if (o.trace) c.layer else c.e2e
    val correct = code == 0 && c.checks.forall(_._2)
    c.info("checks") = c.checks.map { case (n, ok, d) => mutable.LinkedHashMap("name" -> n, "ok" -> ok, "detail" -> d) }
    println("PERFBENCH_INFO " + mapper.writeValueAsString(c.info))
    println("PERFBENCH_RESULT " + mapper.writeValueAsString(mutable.LinkedHashMap(
      "correct" -> correct, "attempted" -> math.max(1, c.attempted), "failed" -> c.failed,
      "metrics" -> metrics)))
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The traced run's spans and per-job task metrics, in one file. */
  def writeTrace(c: Ctx): Unit = {
    val jobs = c.listener.toSeq.flatMap(_.jobs.values.asScala.toSeq.sortBy(_.id)).map { j =>
      mutable.LinkedHashMap[String, Any]("job" -> j.id, "group" -> j.group, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks) ++ GroupListener.Fields.zip(j.m.toSeq)
    }
    val spans = c.spans.all.map(s => mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS))
    val p = Paths.get(c.o.out, s"trace-${c.o.workload}-seed${c.o.seed}.json")
    Files.createDirectories(p.getParent)
    Files.writeString(p, mapper.writeValueAsString(mutable.LinkedHashMap("workload" -> c.o.workload, "seed" -> c.o.seed,
      "spans" -> spans, "jobs" -> jobs, "ledger" -> c.info.getOrElse("ledger", Nil),
      "per_layer" -> c.layer)))
    c.info("trace_file") = p.toString
  }
}

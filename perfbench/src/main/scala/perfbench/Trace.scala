package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Engine counters of the jobs one call ran: the call is wrapped in a Spark
  * job group of its own, and [[JobCollector]] files every job, stage and
  * task of that group under it.
  */
final case class Span(wallS: Double, cpuS: Double, jobs: Long, shuffleBytes: Long,
                      spillBytes: Long, uncoveredS: Double, driverCpuS: Double) {
  def -(o: Span): Span = Span(wallS - o.wallS, cpuS - o.cpuS, jobs - o.jobs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, uncoveredS - o.uncoveredS,
    driverCpuS - o.driverCpuS)
  def +(o: Span): Span = Span(wallS + o.wallS, cpuS + o.cpuS, jobs + o.jobs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes, uncoveredS + o.uncoveredS,
    driverCpuS + o.driverCpuS)
}

object Span {
  val zero: Span = Span(0, 0, 0, 0, 0, 0, 0)
}

/** Listener registered by the benchmark: per job group, the job count, the
  * summed executor CPU, shuffle bytes written, bytes spilled (memory and
  * disk), and each job's [start, end] interval in epoch milliseconds. */
final class JobCollector extends SparkListener {
  final class Group {
    var jobs = 0L; var cpuNs = 0L; var shuffle = 0L; var spill = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
      groups.getOrElseUpdate(g, new Group).jobs += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val acc = groups(g)
      acc.cpuNs += m.executorCpuTime
      acc.shuffle += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      groups(g).intervals += ((start, e.time))
    }
  }

  def take(g: String): Group = synchronized {
    stageGroup.filterInPlace((_, v) => v != g)
    groups.remove(g).getOrElse(new Group)
  }
}

/** Per-layer accounting for a traced run. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val collector = new JobCollector
  sc.addSparkListener(collector)
  private var calls = 0
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val layers = mutable.Map.empty[String, Span]
  private val counts = mutable.Map.empty[String, Long]

  /** Runs `body` in a job group of its own and returns its result and span.
    * `uncoveredS` is the part of the wall time that no job of the call
    * covered (driver-side planning and control plane). */
  def span[T](label: String)(body: => T): (T, Span) = {
    calls += 1
    val group = s"$label#$calls"
    sc.setJobGroup(group, label, interruptOnCancel = false)
    val t0ms = System.currentTimeMillis()
    val cpu0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val result = try body finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val driverCpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e9
    val t1ms = System.currentTimeMillis()
    PerfbenchBus.drain(sc)
    val g = collector.take(group)
    val covered = Tracer.unionMs(g.intervals.toSeq.map { case (a, b) =>
      (math.max(a, t0ms), math.min(b, t1ms)) })
    (result, Span(wall, g.cpuNs / 1e9, g.jobs, g.shuffle, g.spill,
      math.max(0.0, wall - covered / 1e3), driverCpu))
  }

  /** An ingest call's `pipeline` share: the wall time no job covered, the
    * calling thread's CPU, and the engine counters of all its jobs. */
  def addPipeline(s: Span): Unit =
    add("pipeline", s.copy(wallS = s.uncoveredS, cpuS = s.driverCpuS))

  /** Writes a lazy prefix chain to the no-op sink: the cost of computing it. */
  def noop(label: String, df: DataFrame): Span =
    span(label)(df.write.format("noop").mode("overwrite").save())._2

  def add(layer: String, s: Span): Unit =
    layers(layer) = layers.getOrElse(layer, Span.zero) + s

  def count(name: String, n: Long): Unit = counts(name) = counts.getOrElse(name, 0L) + n

  /** Per-round means of every layer metric, named `<layer>.<suffix>`.
    * Layer costs found by difference are clamped at zero. */
  def metrics(rounds: Int): Seq[(String, Double, String)] = {
    val perLayer = Tracer.layerNames.flatMap { l =>
      val s = layers.getOrElse(l, Span.zero)
      Seq((s"$l.wall_s", math.max(0.0, s.wallS), "s"),
        (s"$l.cpu_s", math.max(0.0, s.cpuS), "s"),
        (s"$l.jobs", math.max(0L, s.jobs).toDouble, "count"),
        (s"$l.shuffle_bytes", math.max(0L, s.shuffleBytes).toDouble, "bytes"),
        (s"$l.spill_bytes", math.max(0L, s.spillBytes).toDouble, "bytes"))
    }
    val work = Tracer.countNames.map { case (n, unit) => (n, counts.getOrElse(n, 0L).toDouble, unit) }
    (perLayer ++ work).map { case (n, v, u) => (n, v / rounds, u) }
  }
}

object Tracer {
  val layerNames: Seq[String] = Seq("readers", "extract", "infer", "evolution",
    "validate", "corpus_write", "corpus_read", "gate", "dedup", "budget", "pipeline")
  val countNames: Seq[(String, String)] = Seq("evolution.versions" -> "count",
    "corpus_write.files" -> "count", "corpus_write.bytes" -> "bytes",
    "validate.flagged" -> "count", "dedup.dropped" -> "count", "budget.kept" -> "count")

  /** Total length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    for ((a, b) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

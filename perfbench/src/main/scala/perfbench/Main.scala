package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared state of one run. Every directory a workload writes is under
  * `work`; `fresh` hands out a new one and `delete` removes it, both
  * outside every timer. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val cores: Int) {
  private var dirs = 0
  def fresh(name: String): String = {
    dirs += 1
    work.resolve(s"$name-$dirs").toString
  }
  def delete(dir: String): Unit = Files.walk(Path.of(dir)).iterator().asScala.toSeq
    .reverse.foreach(Files.deleteIfExists(_))
  def bytesUnder(dir: String): Long =
    if (!Files.exists(Path.of(dir))) 0L
    else Files.walk(Path.of(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
}

/** Timed top-level calls and the checks of one run. With `collectAfterOps`
  * a full GC follows every top-level call (see [[op]]); a traced run turns
  * it off, because there a call runs inside a layer's span. */
final class Recorder(collectAfterOps: Boolean) {
  val opS = ArrayBuffer.empty[Double]
  val readS = ArrayBuffer.empty[Double]
  val outPerIn = ArrayBuffer.empty[Double]
  var rows = 0L
  var attempted = 0L
  var failed = 0L
  var verifyS = 0.0
  val problems = ArrayBuffer.empty[String]

  /** Output verification: untimed, and not counted as measured time. */
  def verify(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body
    catch { case NonFatal(e) => check(ok = false, s"verification threw $e"); e.printStackTrace() }
    verifyS += (System.nanoTime() - t0) / 1e9
  }

  private def timed[T](into: ArrayBuffer[Double], rowsIn: Long)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      into += dt
      System.err.println(f"perfbench:   call $attempted%d $dt%.3f s")
      rows += rowsIn
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: operation failed: $e")
        e.printStackTrace()
        None
    }
  }

  /** One top-level call carrying `rowsIn` input records. A full GC follows
    * it, outside the timer: it reads what the call left live, and every
    * call starts from the same collected heap. */
  def op[T](rowsIn: Long)(body: => T): Option[T] = {
    val r = timed(opS, rowsIn)(body)
    if (collectAfterOps) Heap.collect()
    r
  }

  /** One read over what the workload wrote. */
  def read[T](body: => T): Option[T] = timed(readS, 0L)(body)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { problems += what; System.err.println(s"perfbench: CHECK FAILED: $what") }
}

/** A workload: inputs made in `generate`, a warm-up on throwaway output,
  * and rounds of the same top-level calls. `check` asks a round to verify
  * its outputs; verification runs outside every timer. */
trait Workload {
  def generate(): Unit
  def warmup(): Unit
  def round(rec: Recorder, check: Boolean): Unit
  def tracedRound(tr: Tracer, rec: Recorder, check: Boolean): Unit
}

/** Largest heap occupancy right after a full GC. The benchmark collects
  * after every top-level call and at the end of every round, outside the
  * timers; collections the JVM starts on its own are not sampled, because
  * what a young collection leaves in the old generation depends on GC
  * timing rather than on the program. */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq
  private var peak = 0L

  def reset(): Unit = peak = 0L

  def collect(): Unit = {
    System.gc()
    val used = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

object Main {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def json(correct: Boolean, rec: Recorder, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": ${rec.attempted}, "failed": ${rec.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Path.of(opt("work"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    System.err.println(f"perfbench: session started at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val ctx = new Ctx(spark, work, opt("seed").toLong, cores)
    val wl: Workload = opt("workload") match {
      case "ingest_text_bulk" => new TextIngest(ctx)
      case "ingest_ragged_small" => new RaggedIngest(ctx)
      case "curate_neardup" => new CurateNeardup(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    wl.generate()
    System.err.println(f"perfbench: inputs generated at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    wl.warmup()
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"perfbench: setup $setupS%.2f s")

    Heap.reset()
    val rec = new Recorder(collectAfterOps = tracer.isEmpty)
    // Whole rounds until `seconds` of round time (verification excluded)
    // have passed; the first round verifies its outputs.
    var rounds = 0
    var roundsS = 0.0
    while (rounds == 0 || roundsS - rec.verifyS < seconds) {
      val r0 = System.nanoTime()
      tracer match {
        case Some(tr) => wl.tracedRound(tr, rec, check = rounds == 0)
        case None => wl.round(rec, check = rounds == 0)
      }
      val roundS = (System.nanoTime() - r0) / 1e9
      roundsS += roundS
      rounds += 1
      Heap.collect()
      System.err.println(f"perfbench: round $rounds took $roundS%.2f s (verification ${rec.verifyS}%.2f s so far)")
    }

    val metrics =
      tracer match {
        case Some(tr) => tr.metrics(rounds)
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", rec.rows / rec.opS.sum, "rows/s"),
          ("op_p50_s", median(rec.opS.toSeq), "s"),
          ("read_back_s", median(rec.readS.toSeq), "s"),
          ("output_bytes_per_input_byte", median(rec.outPerIn.toSeq), "ratio"),
          ("peak_live_heap_mb", Heap.peakMb, "MB"))
      }
    System.err.println(f"perfbench: $rounds rounds, ${rec.opS.size} calls, " +
      f"${rec.readS.size} reads, ${rec.opS.sum}%.2f s in calls")
    spark.stop()
    println(json(rec.problems.isEmpty, rec, metrics))
    System.out.flush()
    sys.exit(0)
  }
}

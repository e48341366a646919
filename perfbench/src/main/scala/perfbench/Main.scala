package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Everything one workload needs: the session, its generated inputs, a
  * scratch root inside the checkout, and how many units of work (drops,
  * suite passes) one timed window does. */
case class Ctx(spark: SparkSession, data: String, work: String, units: Int)

/** One benchmark workload.  `setup` is the work that must finish before
  * timing (returns seconds); `measure` runs the timed window (with
  * `probe` only on a traced pass); `finish` runs after the last window,
  * outside any timed region, and returns what the checker needs. */
trait Workload {
  def setup(): Double
  def measure(probe: Option[Probe]): Map[String, Any]
  def finish(): Map[String, Any] = Map.empty
}

/** JVM side of the benchmark: builds the session with the library
  * recipe only, runs one workload and writes a JSON record of raw
  * samples, per-layer readings and check results for run.py.
  *
  * Set-up runs SetupReps times and the record carries every repetition
  * and their median: only the first pays class loading and JIT, so the
  * median is the set-up work itself, not that warm-up.
  *
  * usage: perfbench.Main <workload> <dataDir> <workDir> <outFile>
  *          <units> <trace 0|1> [query,query,...] */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, outFile, units, trace) = args.take(6)
    val cores = Runtime.getRuntime.availableProcessors()
    Cal.warm()
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.local(cores, "perfbench")
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> name,
      "session" -> Map(
        "recipe" -> ("graft.GraftSession.local(cores): GraftSession.tuned plus master " +
          "local[cores], shuffle partitions = cores, UI off; nothing else is set"),
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "sql_conf" -> spark.conf.getAll.filter(_._1.startsWith("spark.sql."))),
      "session_start_ms" -> sessionMs)
    try {
      val ctx = Ctx(spark, data, work, units.toInt)
      val w: Workload = name match {
        case "season_live" => new Live(ctx)
        case "query_suite" => new Suite(ctx, args(6).split(',').toSeq)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val reps = (1 to SetupReps).map(_ => w.setup())
      out("setup_reps_s") = reps
      out("setup_s") = Util.median(reps)
      out("untraced") = w.measure(None)
      if (trace == "1") {
        val probe = new Probe(spark)
        probe.attach()
        val c0 = probe.snap()
        val t1 = System.nanoTime()
        val traced = w.measure(Some(probe))
        val wallMs = (System.nanoTime() - t1) / 1e6
        val d = probe.snap() - c0
        out("traced") = traced
        out("engine") = Map(
          "spark.jobs" -> d.jobs, "spark.tasks" -> d.tasks,
          "spark.core_busy_share" -> d.runMs / (cores * wallMs),
          "spark.gc_ms" -> d.gcMs, "spark.task_skew_max" -> probe.skewMax,
          "spark.shuffle_write_bytes" -> d.shuffleWrite)
        probe.detach()
        // untraced again: the overhead is traced against the mean of the
        // windows either side, so JIT warm-up does not read as overhead
        out("untraced_after") = w.measure(None)
      }
      out("checks") = w.finish()
      out("cal_ms") = Cal.samples.toSeq
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        out("error") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      Files.writeString(Paths.get(outFile), Json(out))
      spark.stop()
    }
  }
}

object Util {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of each JIT compiler thread, read from /proc (Linux):
    * the JVM hides these threads from ThreadMXBean. */
  private def jitThreads(): Map[String, Double] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.flatMap { t =>
      try {
        val name = Files.readString(t.resolve("comm"))
        if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler"))
          Some(t.getFileName.toString ->
            Files.readString(t.resolve("schedstat")).split(' ')(0).toDouble / 1e9)
        else None
      } catch { case _: java.io.IOException => None }  // the thread ended
    }.toMap
    finally tasks.close()
  }

  /** A reading of the program's CPU clock: CPU seconds over all the
    * JVM's threads but its JIT compiler threads.  Spark generates and
    * loads classes for every plan, so the compilers stay busy all run,
    * and how much of their work lands in one window varies by tens of
    * percent between runs of the same code. */
  case class Cpu(process: Double, jit: Map[String, Double]) {
    /** The program's CPU seconds from this reading to `later`. */
    def to(later: Cpu): Double =
      later.process - process - later.jit.map { case (t, s) => s - jit.getOrElse(t, 0.0) }.sum
  }

  def cpuNow(): Cpu = {
    val jit = jitThreads()
    Cpu(os.getProcessCpuTime / 1e9, jit)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Time one call in milliseconds. */
  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Execute every row and column of a frame's own plan. */
  def force(df: DataFrame): Long = graft.Registry.force(df)

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
  }

  /** Data files (not `_`/`.` markers) under a directory, and their bytes. */
  def dataFiles(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.endsWith(".crc") &&
        p.relativize(f).iterator().asScala.forall { s =>
          !s.toString.startsWith("_") && !s.toString.startsWith(".")
        }
    }.toSeq
  }

  def listFiles(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq.sortBy(_.toString)
}

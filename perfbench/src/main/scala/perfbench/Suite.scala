package perfbench

import java.nio.file.{Files, Paths}

import graft.{GQuery, Registry, SparkEntry}
import Util._

/** A fixed subset of SparkEntry.queries over the generated star schema,
  * in registry order through Registry.force.  A set-up is one untimed
  * pass; the first parks standing state, so every timed pass prices
  * warm state.  Every pass records each result's row count and the
  * program's CPU seconds in each query (Util.Cpu).  After the
  * last window a fresh call of each query writes its result the way
  * Verify does, for the DuckDB oracle compare in run.py, which also
  * holds every timed pass's row count against that checked result. */
class Suite(ctx: Ctx, queries: Seq[String]) extends Workload {
  import ctx.spark
  private val sf = s"${ctx.data}/sf"
  private val verify = s"${ctx.work}/verify"
  private val subset = Registry.all.filter(q => queries.contains(q.name))
  require(subset.size == queries.size, s"unknown queries: ${queries.diff(subset.map(_.name))}")

  private def error(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"

  def setup(): Double = timeMs(subset.foreach(timed(_, None)))._2 / 1e3

  private def timed(q: GQuery, probe: Option[Probe]): Any =
    try probe match {
      case None =>
        val (rows, ms) = timeMs(force(q.fn(spark, sf)))
        Map("s" -> ms / 1e3, "rows" -> rows)
      case Some(p) =>
        val before = p.snap()
        val (df, buildMs) = timeMs(q.fn(spark, sf))
        val (_, planMs) = timeMs(df.queryExecution.executedPlan)
        val (rows, execMs) = timeMs(force(df))
        val d = p.snap() - before
        Map("s" -> (buildMs + planMs + execMs) / 1e3, "rows" -> rows,
          "planning_ms" -> (planMs + d.planningMs), "serial_stage_ms" -> d.serialMs,
          "shuffle_bytes" -> d.shuffleWrite, "spill_bytes" -> d.spill)
    } catch { case e: Throwable => error(e) }

  /** `units` whole passes over the subset.  A CPU calibration follows
    * each query; the query's program CPU seconds run from its start to
    * the next query's, the calibration's own CPU taken out. */
  def measure(probe: Option[Probe]): Map[String, Any] =
    Map("passes" -> (1 to ctx.units).map { _ =>
      subset.map { q =>
        val c = cpuNow()
        val r = timed(q, probe)
        val calS = Cal.sample() / 1e3
        val cpu = c.to(cpuNow()) - calS
        q.name -> (r match {
          case m: Map[String, Any] @unchecked => m + ("cpu_s" -> cpu)
          case err => err
        })
      }.toMap
    })

  override def finish(): Map[String, Any] = {
    val writeErrors = subset.flatMap { q =>
      try {
        q.fn(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$verify/${q.name}")
        None
      } catch { case e: Throwable => Some(q.name -> error(e)) }
    }.toMap
    val oracle = subset.flatMap(q => SparkEntry.oracleSql.get(q.name).map(q.name -> _)).toMap
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"), Json(oracle))
    Map("verify_dir" -> verify, "write_errors" -> writeErrors)
  }
}

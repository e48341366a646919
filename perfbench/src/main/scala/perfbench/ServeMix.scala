package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max_by}

import graft.fpl.{Chemistry, Ingest, RequestApp}
import Util._

/** Serving as RequestApp's CLI does it: persisted tables read back as
  * parquet, one request at a time through RequestApp.handle plus the
  * response toJSON collect. */
object ServeMix {

  /** The serving tables, from the batch pipeline's outputs. */
  def writeTables(spark: SparkSession, dir: String, data: String, chem: DataFrame,
      ratings: DataFrame, profiles: DataFrame, matches: DataFrame): Unit = {
    deleteTree(dir)
    Ingest.players(spark, s"$data/players.csv").write.parquet(s"$dir/players")
    Ingest.teams(spark, s"$data/teams.csv").write.parquet(s"$dir/teams")
    Chemistry.symmetric(chem).write.parquet(s"$dir/chemistry_sym")
    ratings.groupBy(col("playerId"))
      .agg(max_by(col("rating"), col("matchId")).as("rating"))
      .write.parquet(s"$dir/ratings")
    profiles.write.parquet(s"$dir/profiles")
    matches.write.parquet(s"$dir/matches")
  }

  /** The generated request mix, closed loop, each request with its
    * latency split, response rows and (with a probe) its jobs, planning
    * time and bytes read. */
  def run(spark: SparkSession, dir: String, data: String,
      probe: Option[Probe]): Seq[Map[String, Any]] = {
    def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
    val (players, teams, chem, ratings, profiles, matches) =
      (t("players"), t("teams"), t("chemistry_sym"), t("ratings"), t("profiles"), t("matches"))
    Files.readAllLines(Paths.get(s"$data/requests.tsv")).asScala.zipWithIndex
      .map { case (line, i) =>
        val Array(kind, req) = line.split("\t", 2)
        val before = probe.map(_.snap())
        val ((_, out), handleMs) = timeMs(RequestApp.handle(spark, req,
          players, teams, chem, ratings, profiles, matches))
        val (json, renderMs) = timeMs(out.toJSON.collect())
        val layer = probe.zip(before).map { case (p, b) =>
          val d = p.snap() - b
          Map("jobs" -> d.jobs, "planning_ms" -> d.planningMs, "bytes_read" -> d.bytesRead)
        }.getOrElse(Map.empty)
        Map("i" -> i, "kind" -> kind, "latency_ms" -> (handleMs + renderMs),
          "handle_ms" -> handleMs, "render_ms" -> renderMs,
          "response" -> json.toSeq) ++ layer
      }.toSeq
  }
}

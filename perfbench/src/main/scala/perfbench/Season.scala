package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{abs, col, max}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.fpl.{Chemistry, Flatten, Folds, Ingest, MetricsAlgebra}
import graft.streaming.{FplStream, LineSource}
import Util._

/** The season in small drops through FplStream.runFull (file
  * LineSource → per-player stateful fold → consolidateBatch sinks),
  * closed loop: publish a drop, then processAllAvailable.  Per-batch
  * fixed costs (planning, state commit, WAL, sink writes, the
  * prior-closes re-read that grows with the season) dominate; compute
  * is small.
  *
  * Set-up is a fresh query over the first drops, untimed; run.py checks
  * each window's state against a plain-Python reference over the drops
  * that window consumed.
  *
  * The traced pass adds timed calls into the batch side of the pipeline
  * over the whole season — FplStream.toMessages, the Ingest /
  * MetricsAlgebra / Flatten / Folds / Chemistry kernels — checks the
  * streamed output against those batch results, writes the serving
  * tables from them and sends a short request mix through
  * RequestApp.handle. */
class Live(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  /** The season's drop files, in match order. */
  private val drops = listFiles(s"${ctx.data}/drops").map(_.toString)
  private var n = 0

  private def freshRoot(): String = {
    n += 1
    val r = s"${ctx.work}/pass$n"
    Files.createDirectories(Paths.get(s"$r/in"))
    r
  }

  private def start(root: String): StreamingQuery =
    FplStream.runFull(
      LineSource(spark, Map("source" -> "file", "path" -> s"$root/in")),
      s"$root/state", s"$root/ckpt").start()

  /** Make a drop visible to the file source in one atomic rename; the
    * source skips names starting with '.'. */
  private def publish(drop: String, root: String): Unit = {
    val name = Paths.get(drop).getFileName.toString
    val tmp = Paths.get(s"$root/in/.$name")
    Files.copy(Paths.get(drop), tmp)
    Files.move(tmp, Paths.get(s"$root/in/$name"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The window's drops through a fresh query, one at a time: publish,
    * then wait for processAllAvailable.  Returns each drop's freshness in
    * ms, the program's CPU seconds from its publish to the next one
    * (Util.Cpu, so background work a drop leaves, such as state-store
    * compaction, counts too) and, with a probe, the engine work it
    * caused.  With `cal`, a CPU calibration follows each drop, its own
    * CPU taken out. */
  private def loop(root: String, files: Seq[String], probe: Option[Probe], cal: Boolean)
      : Seq[(Double, Double, Option[Counters])] = {
    val q = start(root)
    try {
      var c = cpuNow()
      files.map { d =>
        val before = probe.map(_.snap())
        val (_, ms) = timeMs { publish(d, root); q.processAllAvailable() }
        val calS = if (cal) Cal.sample() / 1e3 else 0.0
        val next = cpuNow()
        val cpu = c.to(next) - calS
        c = next
        (ms, cpu, probe.zip(before).map { case (p, b) => p.snap() - b })
      }
    } finally q.stop()
  }

  /** The first drops through a fresh query (new checkpoint, state store
    * and sinks).  Three drops take every path of the window: the third
    * is the first with closes, so its sink pairs them against prior
    * closes. */
  def setup(): Double = {
    val root = freshRoot()
    val (_, ms) = timeMs(loop(root, drops.take(3), None, cal = false))
    deleteTree(root)
    ms / 1e3
  }

  /** The first `units` drops of the season. */
  def measure(probe: Option[Probe]): Map[String, Any] = {
    probe.foreach(_.clearProgress())
    val root = freshRoot()
    val used = drops.take(ctx.units)
    val perDrop = loop(root, used, probe, cal = true)
    val base = Map[String, Any]("freshness_ms" -> perDrop.map(_._1),
      "cpu_s" -> perDrop.map(_._2), "state_dir" -> s"$root/state")
    probe.fold(base)(p => base ++ streamLayers(p, root, used, perDrop.flatMap(_._3)) ++
      batchLayers(probe, root, used))
  }

  /** Per-layer readings of the window's micro-batches. */
  private def streamLayers(p: Probe, root: String, used: Seq[String],
      perDrop: Seq[Counters]): Map[String, Any] = {
    val batches = p.progress.filter(_.numInputRows > 0).toSeq
    def dur(b: StreamingQueryProgress, k: String): Double =
      Option(b.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double) = median(batches.map(f))
    val ops = batches.flatMap(_.stateOperators.headOption)
    val last = ops.lastOption
    // each batch reads its drop, then the sink re-reads prior closes
    val sinkRead = perDrop.zip(used).map { case (c, d) =>
      math.max(0.0, c.bytesRead - Files.size(Paths.get(d)).toDouble)
    }
    val sinkFiles = dataFiles(s"$root/state")
    Map(
      "stream.batches" -> batches.size,
      "source.latest_offset_ms" -> med(dur(_, "latestOffset")),
      "stream.query_planning_ms" -> med(dur(_, "queryPlanning")),
      "stream.add_batch_ms" -> med(dur(_, "addBatch")),
      "stream.wal_commit_ms" -> med(dur(_, "walCommit")),
      "stream.jobs_per_batch" -> median(perDrop.map(_.jobs.toDouble)),
      "state.commit_ms" -> median(ops.map(_.commitTimeMs.toDouble)),
      "state.store_instances" -> last.map(_.numStateStoreInstances).getOrElse(0L),
      "state.rows_total" -> last.map(_.numRowsTotal).getOrElse(0L),
      "state.rows_updated" -> median(ops.map(_.numRowsUpdated.toDouble)),
      "state.memory_bytes" -> last.map(_.memoryUsedBytes).getOrElse(0L),
      "sink.bytes_read_per_batch" -> median(sinkRead),
      "sink.bytes_written" -> sinkFiles.map(Files.size).sum,
      "sink.files_written" -> sinkFiles.size)
  }

  /** The batch side over the whole season, each kernel forced on its own
    * over cached inputs; then the stream check and the serving tables. */
  private def batchLayers(probe: Option[Probe], root: String, used: Seq[String])
      : Map[String, Any] = {
    val lines = spark.read.text(drops: _*)
    val (_, toMsgMs) = timeMs(force(FplStream.toMessages(lines).toDF()))
    val (_, parseMs) = timeMs(force(Ingest.parse(lines)))
    val parsed = Ingest.parse(lines)
    val events = Ingest.events(parsed).cache()
    val matches = Ingest.matches(parsed).cache()
    force(events); force(matches)
    val fm = MetricsAlgebra.playerMatchMetrics(events).cache()
    val (_, fmMs) = timeMs(force(fm))
    val pm = Flatten.playerMinutes(matches).cache()
    val (_, pmMs) = timeMs(force(pm))
    val ratings = Folds.ratings(spark, fm, pm).cache()
    val (_, ratingsMs) = timeMs(force(ratings))
    val profiles = Folds.profiles(fm).cache()
    val (_, profilesMs) = timeMs(force(profiles))
    val chem = Chemistry.chemistryTable(
      ratings.select($"matchId", $"playerId", $"teamId", $"delta")).cache()
    val (_, chemMs) = timeMs(force(chem))
    val checks = streamVsBatch(ratings, root, used)
    val tables = s"${ctx.work}/tables"
    ServeMix.writeTables(spark, tables, ctx.data, chem, ratings, profiles, matches)
    Seq(events, matches, fm, pm, ratings, profiles, chem).foreach(_.unpersist())
    Map("ingest.to_messages_ms" -> toMsgMs, "batch.parse_ms" -> parseMs,
      "batch.player_match_metrics_ms" -> fmMs, "batch.player_minutes_ms" -> pmMs,
      "batch.ratings_ms" -> ratingsMs, "batch.profiles_ms" -> profilesMs,
      "batch.chemistry_ms" -> chemMs, "stream_vs_batch" -> checks, "serve_tables" -> tables,
      "serve" -> ServeMix.run(spark, tables, ctx.data, probe))
  }

  /** Streamed output against the batch pipeline over the same lines:
    *  - every streamed close equals the batch Folds.ratings row of its
    *    (player, match), and only a player's last rated match can still
    *    be open (a match closes when the player's next event or squad
    *    listing arrives);
    *  - Chemistry.fromPairDeltas over the streamed pair deltas equals
    *    Chemistry.chemistryTable over the closed batch ratings. */
  private def streamVsBatch(ratings: DataFrame, root: String, used: Seq[String])
      : Map[String, Any] = {
    val tol = 1e-9
    val closes = spark.read.parquet(s"$root/state/closes")
      .select(col("playerId"), col("matchId"), col("rating"), col("delta"))
    val seen = Ingest.matches(Ingest.parse(spark.read.text(used: _*)))
      .select(col("wyId").as("matchId"))
    val batch = ratings.join(seen, Seq("matchId"), "left_semi")
      .select(col("playerId"), col("matchId"), col("teamId"),
        col("rating").as("b_rating"), col("delta").as("b_delta"))
    val nCloses = closes.count()
    val matched = closes.join(batch, Seq("playerId", "matchId"))
      .filter(abs(col("rating") - col("b_rating")) <= tol &&
        abs(col("delta") - col("b_delta")) <= tol)
      .count()
    val open = batch.join(closes, Seq("playerId", "matchId"), "left_anti")
    val lastMatch = batch.groupBy("playerId").agg(max("matchId").as("matchId"))
    val openOk = open.join(lastMatch, Seq("playerId", "matchId"), "left_anti").isEmpty
    val closedBatch = batch.join(closes.select("playerId", "matchId"),
      Seq("playerId", "matchId"), "left_semi")
    val want = Chemistry.chemistryTable(closedBatch.select(col("matchId"),
      col("playerId"), col("teamId"), col("b_delta").as("delta")))
    val got = Chemistry.fromPairDeltas(
      spark.read.parquet(s"$root/state/pair_deltas"))
    val chemBad = want.withColumnRenamed("chemistry", "want")
      .join(got, Seq("p1", "p2"), "full_outer")
      .filter(col("want").isNull || col("chemistry").isNull ||
        abs(col("want") - col("chemistry")) > tol)
      .count()
    Map("closes" -> nCloses, "closes_matching_batch" -> matched,
      "only_last_matches_open" -> openOk, "chemistry_mismatches" -> chemBad,
      "ok" -> (nCloses > 0 && matched == nCloses && openOk && chemBad == 0))
  }
}

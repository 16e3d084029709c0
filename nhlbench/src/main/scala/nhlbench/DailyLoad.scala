package nhlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

import graft.nhl.{Ingest, Ledger, Mart, Quality, Staging}
import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The NHL teams, full name and alias. */
object Teams {
  val all: IndexedSeq[(String, String)] = IndexedSeq(
    "Anaheim Ducks" -> "ANA", "Boston Bruins" -> "BOS",
    "Buffalo Sabres" -> "BUF", "Calgary Flames" -> "CGY",
    "Carolina Hurricanes" -> "CAR", "Chicago Blackhawks" -> "CHI",
    "Colorado Avalanche" -> "COL", "Columbus Blue Jackets" -> "CBJ",
    "Dallas Stars" -> "DAL", "Detroit Red Wings" -> "DET",
    "Edmonton Oilers" -> "EDM", "Florida Panthers" -> "FLA",
    "Los Angeles Kings" -> "LAK", "Minnesota Wild" -> "MIN",
    "Montreal Canadiens" -> "MTL", "Nashville Predators" -> "NSH",
    "New Jersey Devils" -> "NJD", "New York Islanders" -> "NYI",
    "New York Rangers" -> "NYR", "Ottawa Senators" -> "OTT",
    "Philadelphia Flyers" -> "PHI", "Pittsburgh Penguins" -> "PIT",
    "San Jose Sharks" -> "SJS", "Seattle Kraken" -> "SEA",
    "St. Louis Blues" -> "STL", "Tampa Bay Lightning" -> "TBL",
    "Toronto Maple Leafs" -> "TOR", "Utah Hockey Club" -> "UTA",
    "Vancouver Canucks" -> "VAN", "Vegas Golden Knights" -> "VGK",
    "Washington Capitals" -> "WSH", "Winnipeg Jets" -> "WPG")
  val divisions: Seq[String] = Seq("Atlantic Division",
    "Metropolitan Division", "Central Division", "Pacific Division")
}

/** One game as the games CSV carries it. `id` is the warehouse key the
  * staging model derives: day number × 86400 + start time in seconds
  * (start times are distinct within a day). */
final case class GameRow(date: LocalDate, startSecs: Int, visitor: Int,
    visitorGoals: Int, home: Int, homeGoals: Int, attendance: Int,
    lengthMin: Int) {
  def id: Long = date.toEpochDay * 86400L + startSecs
  def time: String = f"${startSecs / 3600}%d:${startSecs / 60 % 60}%02d"
  def length: String = f"${lengthMin / 60}%d:${lengthMin % 60}%02d"
  def csv: String = Seq(date.toString, time, Teams.all(visitor)._1,
    visitorGoals, Teams.all(home)._1, homeGoals,
    if (lengthMin > 65) "OT" else "", attendance, length, "").mkString(",")
  /** The game's fields as the mart carries them. */
  def martKey: String = Seq(date, f"${startSecs / 3600}%02d:${startSecs / 60 % 60}%02d",
    visitor, visitorGoals, home, homeGoals, attendance, lengthMin)
    .mkString("|")
}

/** The seeded game days: each day has 8 to 16 new games, a re-scrape of
  * two or three of yesterday's games with corrected attendance, the 32
  * teams' standings with the division header rows the scraped HTML
  * carries, and the day's schedule payload. */
final class Season(seed: Long) {
  val opening: LocalDate = LocalDate.of(2024, 10, 8)
  private val cache = mutable.Map.empty[Int, (Seq[GameRow], Seq[GameRow],
    IndexedSeq[Seq[String]])]

  private def rng(day: Int, salt: Int) =
    new Random(seed * 1000003L + day * 7919L + salt)

  /** (new games, corrected games, team stat rows) of `day`. */
  def day(d: Int): (Seq[GameRow], Seq[GameRow], IndexedSeq[Seq[String]]) =
    cache.getOrElseUpdate(d, {
      val r = rng(d, 1)
      // the slate size cycles through 8..16 games whatever the seed, so
      // every seed loads the same amount
      val n = 8 + (5 * d + 3) % 9
      val teams = r.shuffle(Teams.all.indices.toList)
      val slots = r.shuffle((0 until 16).toList).take(n).sorted
      val games = (0 until n).map { i =>
        GameRow(opening.plusDays(d), 12 * 3600 + slots(i) * 1800,
          teams(2 * i), r.nextInt(7), teams(2 * i + 1), r.nextInt(7),
          12000 + r.nextInt(8000), 140 + r.nextInt(40))
      }
      val fixes =
        if (d == 0) Nil
        else {
          val y = day(d - 1)._1
          r.shuffle(y.toList).take(2 + d % 2).map(g =>
            g.copy(attendance = g.attendance + 1 + r.nextInt(500)))
        }
      val stats = Teams.all.indices.map { t =>
        val gp = d + 1 + r.nextInt(3)
        val w = r.nextInt(gp + 1)
        val l = r.nextInt(gp - w + 1)
        val otl = gp - w - l
        Seq(Teams.all(t)._1, gp, w, l, otl, 2 * w + otl,
          f"${(2 * w + otl) / (2.0 * gp)}%.3f", r.nextInt(4 * gp + 1),
          r.nextInt(4 * gp + 1), f"${r.nextGaussian()}%.2f",
          f"${r.nextGaussian() / 10}%.2f", f"${r.nextDouble()}%.3f",
          r.nextInt(w + 1), s"$w-$l-$otl").map(_.toString)
      }
      (games, fixes, stats)
    })

  def gamesCsv(d: Int): String = {
    val (g, f, _) = day(d)
    (f ++ g).map(_.csv).mkString("", "\n", "\n")
  }

  def statsCsv(d: Int): String = {
    val rows = day(d)._3.map(_.mkString(","))
    val withHeaders = rows.grouped(8).zip(Teams.divisions).flatMap {
      case (rs, div) => (div + "," * 13) +: rs
    }
    withHeaders.mkString("", "\n", "\n")
  }

  def scheduleJson(d: Int): String = {
    val (g, _, _) = day(d)
    def team(t: Int) = {
      val (name, alias) = Teams.all(t)
      s"""{"id":"team-$alias","name":"${name.split(' ').last}","alias":"$alias"}"""
    }
    val games = g.map { x =>
      s"""{"id":"game-${x.id}","status":"closed","scheduled":""" +
        s""""${x.date}T${f"${x.startSecs / 3600}%02d:${x.startSecs / 60 % 60}%02d"}:00Z",""" +
        s""""home_points":${x.homeGoals},"away_points":${x.visitorGoals},""" +
        s""""home":${team(x.home)},"away":${team(x.visitor)}}"""
    }
    s"""{"league":{"id":"league-nhl","name":"NHL","alias":"NHL"},""" +
      s""""season":{"id":"season-2024","year":2024,"type":"REG"},""" +
      s""""games":${games.mkString("[", ",", "]")}}"""
  }
}

/** `daily_load`: one NHL game day per op, the reference's own traffic.
  * A day copies the games CSV, the team-stats CSV and the schedule JSON
  * behind the load ledger, replays yesterday's games copy (an Airflow
  * retry), stages, runs the null gate, refreshes the seasonal mart,
  * upserts the day's games into the versioned games table, compacts
  * it, expires old versions and vacuums (the maintenance cycle is one
  * day), and reads the new day back at head. The table grows with every
  * day, so a run is a fixed number of days, not a time window: both
  * sides of a comparison see the same states. */
final class DailyLoad(spark: SparkSession, t: Tracer, a: Args)
    extends Workload {
  import DailyLoad._

  private val season = new Season(a.seed)
  private var root = ""
  private def stage(src: String, d: Int) = s"$root/stage/$src/day=$d"
  private def raw(name: String) = s"$root/warehouse/raw_$name"
  private def games = s"$root/warehouse/games"
  private def mart = s"$root/warehouse/seasonal_metrics_agg"
  private def fileName(src: String, d: Int) = src match {
    case "games" => s"games_${season.opening.plusDays(d)}.csv"
    case "stats" => s"team_stats_${season.opening.plusDays(d)}.csv"
    case "schedule" => s"schedule_${season.opening.plusDays(d)}.json"
  }

  /** Timed days in the run: one per `DaySeconds` of `--seconds`. */
  private val timedDays =
    math.max(a.minOps, a.seconds / DaySeconds)
  /** Per traced op: replayed rows, groups masked, groups rewritten. */
  private val returned = mutable.Map.empty[Int, (Long, Int, Int)]
  private val inputBytes = mutable.Map.empty[Int, Long]

  override def fixedOps: Option[Int] = Some(timedDays)

  def prepare(dir: String): Unit = {
    root = dir
    inputBytes.clear()
    (0 until WarmUpDays + timedDays).foreach { d =>
      Seq("games" -> season.gamesCsv(d), "stats" -> season.statsCsv(d),
          "schedule" -> season.scheduleJson(d)).foreach { case (src, body) =>
        val p = Paths.get(stage(src, d), fileName(src, d))
        val bytes = body.getBytes(UTF_8)
        Files.createDirectories(p.getParent)
        Files.write(p, bytes)
        inputBytes(d) = inputBytes.getOrElse(d, 0L) + bytes.length
      }
    }
  }

  def warmUp(): Unit =
    (0 until WarmUpDays).foreach(d => runDay(d).check().foreach(e =>
      sys.error(s"warm-up day $d: $e")))

  def op(i: Int): OpOut = runDay(WarmUpDays + i)

  private def copy(d: Int): (Long, Long, Long) = (
    Ledger.copyInto(spark, Ingest.readGamesCsv(spark, stage("games", d)),
      raw("regular_season")),
    Ledger.copyInto(spark, Ingest.readTeamStatsCsv(spark, stage("stats", d)),
      raw("team_stats")),
    Ledger.copyInto(spark, Ingest.readScheduleJson(spark,
      stage("schedule", d)), raw("schedules")))

  private def runDay(d: Int): OpOut = {
    val (fresh, fixes, _) = season.day(d)
    val copied = t.span("Ledger.copy")(copy(d))
    val replayed = t.span("Ledger.replay") {
      if (d == 0) 0L
      else Ledger.copyInto(spark, Ingest.readGamesCsv(spark,
        stage("games", d - 1)), raw("regular_season"))
    }
    val (stgGames, stgStats) = t.span("Staging.build") {
      (Staging.stgGames(Ledger.readTarget(spark, raw("regular_season")).get),
        Staging.stgTeamStatistics(
          Ledger.readTarget(spark, raw("team_stats")).get))
    }
    t.span("Quality.gate")(Quality.requireNoNulls(stgStats, Seq("TEAM")))
    t.span("Mart.refresh") {
      Mart.seasonalMetricsAgg(stgGames, stgStats)
        .write.mode(SaveMode.Overwrite).parquet(mart)
    }
    val (_, masked, rewritten) = t.span("VersionedTable.upsert") {
      VersionedTable.mergeDv(spark, games,
        keyed(Ingest.readGamesCsv(spark, stage("games", d))), "game_id")
    }
    t.span("VersionedTable.maintain") {
      VersionedTable.optimize(spark, games, statsCol = Some("game_id"))
      VersionedTable.expireVersions(spark, games, keepLast = 2)
      VersionedTable.vacuum(spark, games, minAgeMs = 0L)
    }
    val lo = fresh.map(_.id).min
    val hi = fresh.map(_.id).max
    val r0 = System.nanoTime()
    val newDay = t.span("VersionedTable.read") {
      VersionedTable.readIndexed(spark, games, "game_id").get
        .filter(col("game_id").between(lo, hi)).count()
    }
    val readMs = (System.nanoTime() - r0) / 1e6
    if (t.active) returned(d) = (replayed, masked, rewritten)

    OpOut(() => {
      val want = (fresh.size + fixes.size, Teams.all.size + 4, 1)
      val got = (copied._1, copied._2, copied._3)
      if (got != want) Some(s"day $d copied $got rows, expected $want")
      else if (replayed != 0) Some(s"day $d replay appended $replayed rows")
      else if (newDay != fresh.size)
        Some(s"day $d read $newDay new games at head, expected ${fresh.size}")
      else checkHead(d).orElse(checkMart(d))
    }, Seq(readMs))
  }

  /** The staged games with the warehouse key. */
  private def keyed(g: DataFrame): DataFrame =
    g.select((unix_date(col("game_date")).cast("long") * 86400L +
      col("game_time_secs")).as("game_id"), col("game_date"),
      col("game_time"), col("visitor"), col("visitor_goals"), col("home"),
      col("home_goals"), col("guests_in_attendance"), col("length_of_game"),
      col("source_file"))

  /** Every game seen so far once, with its latest attendance. */
  private def latest(d: Int): Map[Long, GameRow] =
    (0 to d).flatMap { x => val (g, f, _) = season.day(x); g ++ f }
      .map(g => g.id -> g).toMap

  private def checkHead(d: Int): Option[String] = {
    val want = latest(d).values
    val row = VersionedTable.readIndexed(spark, games, "game_id").get
      .agg(count(lit(1)), sum(col("guests_in_attendance"))).head()
    val got = (row.getLong(0), row.getLong(1))
    val exp = (want.size.toLong, want.map(_.attendance.toLong).sum)
    if (got == exp) None
    else Some(s"day $d head (rows, attendance) $got, expected $exp")
  }

  /** The mart recomputed from the generated days: every loaded game
    * row joined to every loaded standings row of its visitor and of its
    * home team, as a set. */
  private def checkMart(d: Int): Option[String] = {
    val loaded = (0 to d).flatMap { x => val (g, f, _) = season.day(x); f ++ g }
    val stats = (0 to d).flatMap(x => season.day(x)._3)
    val byTeam = stats.groupBy(_.head)
    val rows = mutable.Set.empty[(String, String)]
    var goals = 0L
    var gp = 0L
    loaded.foreach { g =>
      Seq(g.visitor, g.home).foreach { tm =>
        byTeam(Teams.all(tm)._1).foreach { s =>
          if (rows.add(g.martKey -> s.tail.mkString("|"))) {
            goals += g.visitorGoals + g.homeGoals
            gp += s(1).toLong
          }
        }
      }
    }
    val r = spark.read.parquet(mart).agg(count(lit(1)),
      sum(col("VISITOR_GOALS") + col("HOME_GOALS")),
      sum(col("GP").cast("long"))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val exp = (rows.size.toLong, goals, gp)
    if (got == exp) None
    else Some(s"day $d mart (rows, goals, gp) $got, expected $exp")
  }

  override def layers(tr: Tracer, ops: Seq[Span]): Seq[(String, Double)] = {
    import Layers._
    val days = ops.map(_.op - 1 + WarmUpDays)
    def ret(f: ((Long, Int, Int)) => Int) =
      days.map(d => f(returned(d)).toDouble).sum / ops.size
    val upsert = "VersionedTable.upsert"
    val maintain = "VersionedTable.maintain"
    val read = "VersionedTable.read"
    Seq(
      "Ledger.copy_ms" -> msOf(tr, ops, "Ledger.copy"),
      "Ledger.copy_jobs" -> workOf(tr, ops, "Ledger.copy", "jobs"),
      "Ledger.copy_fs_meta_ops" -> perOp(tr, ops, "Ledger.copy")(fsMetaOps),
      "Ledger.replay_ms" -> msOf(tr, ops, "Ledger.replay"),
      "Ledger.replay_rows" -> days.map(returned(_)._1.toDouble).sum / ops.size,
      "Quality.gate_ms" -> msOf(tr, ops, "Quality.gate"),
      "Quality.gate_jobs" -> workOf(tr, ops, "Quality.gate", "jobs"),
      "Mart.refresh_ms" -> msOf(tr, ops, "Mart.refresh"),
      "Mart.refresh_jobs" -> workOf(tr, ops, "Mart.refresh", "jobs"),
      "Mart.refresh_shuffle_bytes" ->
        workOf(tr, ops, "Mart.refresh", "shuffle_write_bytes"),
      s"${upsert}_ms" -> msOf(tr, ops, upsert),
      s"${upsert}_jobs" -> workOf(tr, ops, upsert, "jobs"),
      s"${upsert}_fs_meta_ops" -> perOp(tr, ops, upsert)(fsMetaOps),
      s"${upsert}_files_created" -> fsOf(tr, ops, upsert, "create_ops"),
      "VersionedTable.groups_masked" -> ret(_._2),
      "VersionedTable.groups_rewritten" -> ret(_._3),
      s"${maintain}_ms" -> msOf(tr, ops, maintain),
      s"${maintain}_bytes_rewritten" -> fsOf(tr, ops, maintain, "bytes_written"),
      s"${read}_ms" -> msOf(tr, ops, read),
      s"${read}_fs_meta_ops" -> perOp(tr, ops, read)(fsMetaOps),
      s"${read}_files_opened" -> fsOf(tr, ops, read, "open_ops"),
      "fs.write_amp" ->
        ops.map(_.fs(fsIdx("bytes_written")).toDouble).sum /
          days.map(inputBytes).sum)
  }

  override def endState(): Seq[(String, Double)] = {
    val fs = new org.apache.hadoop.fs.Path(games)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = VersionedTable.read(spark, games).get.inputFiles
      .map(new org.apache.hadoop.fs.Path(_))
    val liveBytes = live.map(fs.getFileStatus(_).getLen).sum
    val total = fs.getContentSummary(new org.apache.hadoop.fs.Path(games))
      .getLength
    val log = fs.listStatus(new org.apache.hadoop.fs.Path(s"$games/_log"))
      .count(s => s.getPath.getName.matches("v\\d+\\.json"))
    Seq("VersionedTable.log_entries" -> log.toDouble,
      "VersionedTable.live_groups" ->
        live.map(_.getParent.getName).distinct.size.toDouble,
      "VersionedTable.storage_amp" -> total.toDouble / liveBytes)
  }
}

object DailyLoad {
  /** Untimed days before the timed ones: one, which runs a full
    * maintenance cycle like every day. */
  val WarmUpDays = 1
  /** Timed days per run: one per this many seconds of `--seconds`. */
  val DaySeconds = 5
}

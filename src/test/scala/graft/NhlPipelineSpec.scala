package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.nhl._
import graft.sources.VersionedTable
import graft.sources.VersionedTable.CommitConflictException

/** End-to-end NHL-shaped fixtures through ingest -> staging -> mart,
  * pinning the reference semantics (SURVEY.md §2/§5).
  */
class NhlPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fx = s"${TestSpark.fixtures}/nhl"

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  // ref-shaped games CSV ($7 = OT/SO col, $10 = notes)
  private lazy val gamesDir = {
    val d = s"$fx/games_csv"
    write(s"$d/games_2024.csv",
      """2024-01-01,7:00,Boston Bruins,3,Chicago Blackhawks,2,OT,18000,2:28,
        |2024-01-02,6:30,Chicago Blackhawks,1,Boston Bruins,4,,17500,2:31,note
        |2024-01-03,8:00,Denver Devils,2,Boston Bruins,2,SO,16000,2:45,
        |""".stripMargin)
    d
  }

  // team stats CSV with an embedded division-header row (ref P6)
  private lazy val statsDir = {
    val d = s"$fx/stats_csv"
    write(s"$d/teams_2024.csv",
      """Atlantic Division,,,,,,,,,,,,,
        |Boston Bruins,82,47,20,15,109,0.665,267,224,0.61,0.02,0.64,39,39-17-10
        |Chicago Blackhawks,82,23,53,6,52,0.317,179,290,-1.36,0.01,0.30,18,18-46-5
        |""".stripMargin)
    d
  }

  private lazy val teamsJsonDir = {
    val d = s"$fx/teams_json"
    write(s"$d/teams.json",
      """{"league": {"id": "l1", "name": "NHL", "alias": "NHL"},
        | "teams": [
        |   {"id": "t1", "name": "Bruins", "alias": "BOS", "market": "Boston"},
        |   {"id": "t2", "name": "Blackhawks", "alias": "CHI", "market": "Chicago"}
        | ]}""".stripMargin)
    d
  }

  test("games CSV ingest: positional rename, skipped col, time dual-rep") {
    val df = Ingest.readGamesCsv(spark, gamesDir)
    val rows = df.orderBy("game_date").collect()
    assert(rows.length == 3)
    val r0 = rows(0)
    assert(r0.getAs[String]("visitor") == "Boston Bruins")
    assert(r0.getAs[Long]("visitor_goals") == 3L)
    assert(r0.getAs[String]("game_time") == "07:00")
    assert(r0.getAs[Int]("game_time_secs") == 7 * 3600)
    assert(r0.getAs[String]("length_of_game") == "02:28")
    assert(r0.getAs[Int]("length_of_game_secs") == 2 * 3600 + 28 * 60)
    // $7 (OT/SO) must not survive ingestion — ref skips it
    assert(!df.columns.contains("_c6"))
    assert(r0.getAs[String]("source_file").endsWith("games_2024.csv"))
  }

  test("md5 unique_key (filename||$1, as the ref derives it) is deterministic") {
    val k1 = Ingest.readGamesCsv(spark, gamesDir).select("unique_key").collect()
    val k2 = Ingest.readGamesCsv(spark, gamesDir).select("unique_key").collect()
    assert(k1.map(_.getString(0)).sorted.sameElements(k2.map(_.getString(0)).sorted))
    // three distinct game dates -> three distinct keys
    assert(k1.map(_.getString(0)).distinct.length == 3)
  }

  test("team stats staging: division row nulled then dropped (P6 ∘ P5)") {
    val raw = Ingest.readTeamStatsCsv(spark, statsDir)
    assert(raw.count() == 3)
    val stg = Staging.stgTeamStatistics(raw)
    // faithful model: 14 string stat cols + updated_at + unique_key
    assert(stg.columns.length == 16)
    val teams = stg.select("TEAM").collect().map(_.getString(0)).sorted
    assert(teams.sameElements(Array("Boston Bruins", "Chicago Blackhawks")))
    val typed = Staging.stgTeamStatisticsTyped(raw)
    val bos = typed.filter(col("team") === "Boston Bruins").head()
    assert(bos.getAs[Long]("total_points") == 109L)
    assert(math.abs(bos.getAs[Double]("points_percentage") - 0.665) < 1e-12)
  }

  test("P6∘P5 never drops a row lacking DIVISION (property)") {
    val raw = Ingest.readTeamStatsCsv(spark, statsDir)
    val cleaned = Staging.dropNullStatRows(Staging.nullOutDivisionRows(raw))
    val survivors = cleaned.select("TEAM").collect().map(_.getString(0))
    val nonDivision = raw.filter(!upper(col("TEAM")).like("%DIVISION%"))
      .filter(Schemas.teamStatsCols.map(col(_).isNotNull).reduce(_ && _))
      .select("TEAM").collect().map(_.getString(0))
    assert(survivors.sorted.sameElements(nonDivision.sorted))
  }

  test("teams JSON flatten carries parent cols and builds team_name (J1+F4)") {
    val raw = Ingest.readTeamsJson(spark, teamsJsonDir)
    val stg = Staging.stgTeams(raw)
    val rows = stg.orderBy("team_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("team_name") == "Boston Bruins")
    assert(rows(1).getAs[String]("team_name") == "Chicago Blackhawks")
    assert(rows(0).getAs[String]("league_name") == "NHL")
    // ref duplicates the parent unique_key across flattened rows
    assert(rows.map(_.getAs[String]("unique_key")).distinct.length == 1)
  }

  test("mart: visitor/home join-union with set semantics (J2+J3+A2)") {
    val games = Ingest.readGamesCsv(spark, gamesDir)
    val stats = Staging.stgTeamStatistics(Ingest.readTeamStatsCsv(spark, statsDir))
    val mart = Mart.seasonalMetricsAgg(games, stats)
    // the reference's exact 21-column output (seasonal_metrics_agg.sql:21-42)
    assert(mart.columns.toSeq == Seq(
      "GAME_DATE", "GAME_TIME", "VISITOR", "VISITOR_GOALS", "HOME",
      "HOME_GOALS", "GUESTS_IN_ATTENDANCE", "LENGTH_OF_GAME", "GP",
      "OVERALL_WINS", "OVERALL_LOSSES", "OVERTIME_LOSSES", "TOTAL_POINTS",
      "POINTS_PERCENTAGE", "GOALS_FOR", "GOALS_AGAINST",
      "HOCKEY_REFERENCE_SRS", "STRENGTH_OF_SCHEDULE",
      "POINTS_PERCENTAGE_IN_REGULATION", "WINS_IN_REGULATION",
      "REGULATION_RECORD"))
    // game1 BOS@CHI: both teams have stats -> 2 rows; game2 CHI@BOS -> 2;
    // game3 Denver@BOS: only home side matches -> 1. Total 5 distinct.
    assert(mart.count() == 5)
    val g3 = mart.filter(col("VISITOR") === "Denver Devils").collect()
    assert(g3.length == 1 && g3(0).getAs[String]("TOTAL_POINTS") == "109")
    // idempotent under re-union (set semantics)
    assert(mart.union(mart).distinct().count() == 5)
  }

  test("CSV quarantine: bad rows land raw in the reject frame (ON_ERROR=CONTINUE)") {
    val d = s"$fx/quarantine_${System.nanoTime()}"
    write(s"$d/batch.csv",
      "1,alpha,10\n2,beta,20\nnotanumber,gamma,30\n3,delta,oops\n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id LONG, name STRING, qty LONG")
    Ingest.withCsvQuarantine(spark, d, schema) { (good, bad) =>
      assert(good.count() == 2)
      assert(good.columns.toSeq == Seq("id", "name", "qty"))
      val rejected = bad.collect()
      assert(rejected.length == 2)
      // the raw line is preserved verbatim for audit/replay
      assert(rejected.map(_.getString(1)).toSet ==
        Set("notanumber,gamma,30", "3,delta,oops"))
      assert(rejected.forall(_.getString(0).endsWith("batch.csv")))
    }
    // the bracket released the shared parse cache (no pinned
    // InMemoryRelation leaks across repeated loads)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("ledger COPY INTO: replayed files are no-ops (S7 idempotence)") {
    val target = s"$fx/target_games_${System.nanoTime()}"
    val batch = Ingest.readGamesCsv(spark, gamesDir)
    val n1 = Ledger.copyInto(spark, batch, target)
    val n2 = Ledger.copyInto(spark, batch, target)
    assert(n1 == 3 && n2 == 0)
    assert(Ledger.readTarget(spark, target).get.count() == 3)
  }

  test("incremental by key: only new unique_keys append (P7/S11)") {
    val target = s"$fx/target_keys_${System.nanoTime()}"
    val batch = Ingest.readGamesCsv(spark, gamesDir)
    assert(Ledger.incrementalByKey(spark, batch, target) == 3)
    assert(Ledger.incrementalByKey(spark, batch, target) == 0)
    // a genuinely new row appends
    write(s"$fx/games_csv2/games_2025.csv",
      "2025-01-01,7:00,New Team,1,Boston Bruins,2,,100,2:10,\n")
    val b2 = Ingest.readGamesCsv(spark, s"$fx/games_csv2")
    assert(Ledger.incrementalByKey(spark, b2, target) == 1)
    assert(Ledger.readTarget(spark, target).get.count() == 4)
  }

  test("delete+insert: batch rows WIN on key collision; target " +
      "rebuilt with no staged leftovers (S11 dbt-default strategy)") {
    import spark.implicits._
    val target = s"$fx/target_di_${System.nanoTime()}"
    def df(rows: (String, Long)*) = rows.toDF("unique_key", "v")
    // first load = plain create
    assert(Ledger.deleteInsert(spark, df("a" -> 1L, "b" -> 2L), target) == 2)
    // overlapping key b gets the UPDATED value; new key c inserts
    assert(Ledger.deleteInsert(spark, df("b" -> 20L, "c" -> 3L), target) == 3)
    val got = Ledger.readTarget(spark, target).get
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 1L, "b" -> 20L, "c" -> 3L),
      s"delete+insert semantics violated: $got")
    // every staged group is referenced by the log: no orphan to vacuum
    assert(VersionedTable.vacuum(spark, target, minAgeMs = 0L).isEmpty)
    // replaying the same batch is value-idempotent (keys deleted then
    // reinserted with identical rows)
    assert(Ledger.deleteInsert(spark, df("b" -> 20L, "c" -> 3L), target) == 3)
    assert(Ledger.readTarget(spark, target).get.count() == 3)
  }

  test("delete+insert and incremental by key commit against the " +
      "version they read: a commit landing before the publish makes " +
      "each throw CommitConflictException and keeps the winner's rows") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.vtcount.impl", classOf[ListCountingFs].getName)
    def df(rows: (String, Long)*) = rows.toDF("unique_key", "v")
    Seq[(DataFrame, String) => Long](
      (b, t) => Ledger.deleteInsert(spark, b, t),
      (b, t) => Ledger.incrementalByKey(spark, b, t)).foreach { verb =>
      val local = s"$fx/target_race_${System.nanoTime()}"
      val target = s"vtcount://$local"
      assert(verb(df("a" -> 1L), target) == 1L)
      // another writer commits v2 after this call's snapshot (v1)
      ListCountingFs.beforePublish.set(s"$local/_log" -> (() =>
        VersionedTable.commit(spark, target, df("w" -> 9L), 1L)))
      try intercept[CommitConflictException] {
        verb(df("a" -> 2L, "b" -> 2L), target)
      } finally ListCountingFs.beforePublish.set(null)
      val got = Ledger.readTarget(spark, target).get
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 1L, "w" -> 9L), s"after the lost race: $got")
      // the loser cleaned its staged group
      assert(VersionedTable.vacuum(spark, target, minAgeMs = 0L).isEmpty)
    }
  }

  test("quality gate: passes on clean col, throws on nulls (A1)") {
    val stats = Staging.stgTeamStatistics(Ingest.readTeamStatsCsv(spark, statsDir))
    Quality.requireNoNulls(stats, Seq("TEAM")) // must not throw
    val raw = Staging.nullOutDivisionRows(Ingest.readTeamStatsCsv(spark, statsDir))
    val ex = intercept[Quality.NullCheckFailure] {
      Quality.requireNoNulls(raw, Seq("TEAM"))
    }
    assert(ex.nulls == 1)
  }

  test("csv edge cases: quoted fields with commas, embedded quotes, short rows") {
    val d = s"$fx/games_edge"
    write(s"$d/edge.csv",
      "2024-02-01,7:00,\"St. Louis, Blues\",2,\"Team \"\"Quoted\"\"\",3,,9000,2:20,\n" +
      "2024-02-02,8:15,Plain Team,1,Other Team,0,OT,,2:05,\n")
    val df = Ingest.readGamesCsv(spark, d)
    val rows = df.orderBy("game_date").collect()
    assert(rows.length == 2)
    // Spark CSV unquotes "St. Louis, Blues" (comma preserved inside quotes)
    assert(rows(0).getAs[String]("visitor") == "St. Louis, Blues")
    // embedded quotes stripped by cleanField (ref F6 replace($n,'\"',''))
    assert(rows(0).getAs[String]("home") == "Team Quoted")
    // empty attendance -> null long, not a parse failure
    assert(rows(1).isNullAt(rows(1).fieldIndex("guests_in_attendance")))
    assert(rows(1).getAs[Int]("game_time_secs") == 8 * 3600 + 15 * 60)
  }

  test("corrupt JSON lines: PERMISSIVE captures them, DROPMALFORMED drops them") {
    import org.apache.spark.sql.types._
    val d = s"$fx/corrupt_json"
    write(s"$d/rows.json",
      """{"id": 1, "v": "ok"}
        |{"id": 2 "v": "missing comma"}
        |{"id": 3, "v": "ok2"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    // Spark disallows querying ONLY the corrupt-record column straight
    // off the file scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache is
    // the documented workaround
    val permissive = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(d).cache()
    assert(permissive.count() == 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(permissive.filter(col("_corrupt_record").isNull)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(d)
    assert(dropped.count() == 2)
  }

  test("seasons JSON: league + seasons array promoted as `season`") {
    val d = s"$fx/seasons_json"
    write(s"$d/seasons.json",
      """{"league": {"id": "l1", "name": "NHL", "alias": "NHL"},
        | "seasons": [
        |  {"id": "s1", "year": 2023, "type": {"code": "REG"}},
        |  {"id": "s2", "year": 2024, "type": {"code": "REG"}}
        | ]}""".stripMargin)
    val raw = Ingest.readSeasonsJson(spark, d)
    assert(raw.count() == 1)
    assert(raw.select(size(col("season"))).head().getInt(0) == 2)
    assert(raw.columns.contains("raw_json"))
  }

  test("full pipeline: raw -> staging -> quality -> mart, idempotent re-run") {
    val wh = s"$fx/warehouse_${System.nanoTime()}"
    val layout = Pipeline.Layout(
      gamesCsvDir = gamesDir, teamStatsCsvDir = statsDir,
      schedulesJsonDir = s"$fx/sched_json", playoffsJsonDir = s"$fx/nope",
      seasonsJsonDir = s"$fx/seasons_json", teamsJsonDir = teamsJsonDir,
      warehouseDir = wh)
    // ensure sched_json fixture exists (created by the P8 test lazily)
    write(s"$fx/sched_json/sched_reg.json",
      """{"league": {"id": "l1", "name": "NHL", "alias": "NHL"},
        | "season": {"id": "s1", "year": 2024, "type": "REG"},
        | "games": [
        |  {"id": "g1", "status": "closed", "scheduled": "2024-01-01T19:00:00Z",
        |   "home_points": 2, "away_points": 3,
        |   "home": {"id": "t2", "name": "Blackhawks", "alias": "CHI"},
        |   "away": {"id": "t1", "name": "Bruins", "alias": "BOS"}}
        | ]}""".stripMargin)
    val r1 = Pipeline.run(spark, layout)
    assert(r1.seasonalMetricsAgg.count() == 5)
    assert(r1.stgTeams.count() == 2)
    assert(r1.regularSeason.count() == 3)
    // re-running the whole pipeline must not duplicate anything (S7)
    val r2 = Pipeline.run(spark, layout)
    assert(r2.regularSeason.count() == 3)
    assert(r2.seasonalMetricsAgg.count() == 5)
  }

  test("withRetry: transient failures retry, analysis errors fail fast") {
    // transient failure on attempt 1, success on attempt 2 (the
    // Airflow retries=1 contract; delay 0 keeps the test instant)
    var calls = 0
    val got = Pipeline.withRetry(retries = 1, delayMs = 0) {
      calls += 1
      if (calls < 2) sys.error("transient")
      41 + calls
    }
    assert(got == 43 && calls == 2)
    // exhausted retries rethrow the last failure
    var calls2 = 0
    val e = intercept[RuntimeException] {
      Pipeline.withRetry(retries = 2, delayMs = 0) {
        calls2 += 1; sys.error("always")
      }
    }
    assert(e.getMessage == "always" && calls2 == 3)
    // a plan that does not resolve is not retried — retrying cannot
    // fix a missing column
    var calls3 = 0
    intercept[org.apache.spark.sql.AnalysisException] {
      Pipeline.withRetry(retries = 3, delayMs = 0) {
        calls3 += 1
        spark.range(1).select(col("no_such_column")).collect()
      }
    }
    assert(calls3 == 1)
    // retried COPY INTO never double-loads (idempotent ledger, S7)
    val target = s"$fx/target_retry_${System.nanoTime()}"
    val batch = Ingest.readGamesCsv(spark, gamesDir)
    var attempts = 0
    Pipeline.withRetry(retries = 1, delayMs = 0) {
      attempts += 1
      Ledger.copyInto(spark, batch, target)
      if (attempts < 2) sys.error("crash after load")
    }
    assert(Ledger.readTarget(spark, target).get.count() == 3)
  }

  test("api schedule JSON: promoted paths + empty-payload guard (P8)") {
    val d = s"$fx/sched_json"
    write(s"$d/sched_reg.json",
      """{"league": {"id": "l1", "name": "NHL", "alias": "NHL"},
        | "season": {"id": "s1", "year": 2024, "type": "REG"},
        | "games": [
        |  {"id": "g1", "status": "closed", "scheduled": "2024-01-01T19:00:00Z",
        |   "home_points": 2, "away_points": 3,
        |   "home": {"id": "t2", "name": "Blackhawks", "alias": "CHI"},
        |   "away": {"id": "t1", "name": "Bruins", "alias": "BOS"}}
        | ]}""".stripMargin)
    write(s"$d/sched_empty.json",
      """{"league": {"id": "l1", "name": "NHL", "alias": "NHL"},
        | "season": {"id": "s1", "year": 2024, "type": "REG"}}""")
    val raw = Ingest.readScheduleJson(spark, d)
    // empty payload filtered out (ref nhl_api_dag.py:97-98)
    assert(raw.count() == 1)
    val games = Staging.stgApiGames(raw)
    val g = games.head()
    assert(g.getAs[String]("home_team") == "Blackhawks")
    assert(g.getAs[Long]("away_points") == 3L)
    assert(g.getAs[Long]("season_year") == 2024L)
  }
}

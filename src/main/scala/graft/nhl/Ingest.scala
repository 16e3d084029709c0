package graft.nhl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Raw-layer ingestion: the Spark re-homing of the reference's
  * `COPY INTO` subquery transforms (SURVEY.md §2 rows S6-S8, P3, P4,
  * F3, F5, F6, F10).
  *
  * Every reader is per-file parallel (Spark file-source splits),
  * projects the hidden `_metadata` struct for file lineage, and
  * derives the same md5 content keys the reference uses for
  * idempotence (ref: copy_into_nhl_stats_seasons.sql:6,
  * copy_into_nhl_api_schedules.sql:6). No driver-side I/O.
  */
object Ingest {

  /** `metadata$filename` equivalent (ref: copy_into_*.sql) —
    * the hidden Spark `_metadata.file_name`. */
  val sourceFile: Column = col("_metadata").getField("file_name")

  /** Clean a positional CSV field: trim + strip embedded quotes
    * (ref F5/F6: trim(replace($n, '"', ''))). */
  def cleanField(c: Column): Column =
    trim(regexp_replace(c, "\"", ""))

  /** Snowflake `::time` replacement (SURVEY.md §7 hard part 1):
    * "H:MM" / "HH:MM[:SS]" -> seconds since midnight. */
  def timeToSecs(c: Column): Column = {
    val parts = split(c, ":")
    // try_element_at: ANSI-safe on short "H:MM" forms (no seconds part)
    (coalesce(try_element_at(parts, lit(1)).cast(LongType), lit(0L)) * 3600 +
      coalesce(try_element_at(parts, lit(2)).cast(LongType), lit(0L)) * 60 +
      coalesce(try_element_at(parts, lit(3)).cast(LongType), lit(0L)))
      .cast(IntegerType)
  }

  /** Canonical "HH:MM" form of a time-of-day string. */
  def timeCanon(c: Column): Column = {
    val parts = split(c, ":")
    concat_ws(":",
      lpad(try_element_at(parts, lit(1)), 2, "0"),
      lpad(coalesce(try_element_at(parts, lit(2)), lit("00")), 2, "0"))
  }

  /** Hockey-reference regular-season games CSV -> RAW.REGULAR_SEASON
    * (ref: copy_into_nhl_stats_seasons.sql:3-14; $7 OT/SO skipped,
    * $10 notes dropped, every field trim+dequote, typed casts). */
  def readGamesCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.gamesCsv).csv(path)
      .select(
        current_timestamp().as("updated_at"),
        sourceFile.as("source_file"),
        // ref key: MD5(METADATA$FILENAME || $1) — filename + raw
        // first field (copy_into_nhl_stats_seasons.sql:6)
        md5(concat(sourceFile, col("_c0"))).as("unique_key"),
        to_date(cleanField(col("_c0")), "yyyy-MM-dd").as("game_date"),
        timeCanon(cleanField(col("_c1"))).as("game_time"),
        timeToSecs(cleanField(col("_c1"))).as("game_time_secs"),
        cleanField(col("_c2")).as("visitor"),
        cleanField(col("_c3")).cast(LongType).as("visitor_goals"),
        cleanField(col("_c4")).as("home"),
        cleanField(col("_c5")).cast(LongType).as("home_goals"),
        // _c6 (OT/SO) deliberately skipped — ref skips $7
        cleanField(col("_c7")).cast(LongType).as("guests_in_attendance"),
        timeCanon(cleanField(col("_c8"))).as("length_of_game"),
        timeToSecs(cleanField(col("_c8"))).as("length_of_game_secs"))

  /** CSV load with malformed-row quarantine — the engine-side
    * equivalent of `COPY INTO … ON_ERROR = CONTINUE` with a
    * rejected-records table (the reference's loads take Snowflake's
    * abort-on-error default; at 100 TB one bad row must not kill the
    * load, and silently dropping it loses audit). PERMISSIVE parsing
    * surfaces each unparseable row's RAW LINE in `_corrupt_record`;
    * `f` gets (typed good rows, quarantined raw lines + source file).
    * The split runs from one cached parse — Spark forbids referencing
    * only the corrupt column on the streaming re-parse path, and
    * caching also guarantees both halves see the same parse. The cache
    * is unpersisted on the way out, so repeated loads do not
    * accumulate pinned InMemoryRelations: write/collect both frames
    * inside `f`, since lazy plans would silently re-parse. */
  def withCsvQuarantine[T](spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)
      (f: (DataFrame, DataFrame) => T): T = {
    val Corrupt = "_corrupt_record"
    // _metadata must become a REAL column before the cache: the hidden
    // file-source column never enters InMemoryRelation, so a later
    // reference would bypass the cache back to a file scan whose only
    // required data column is the corrupt one — the exact shape Spark
    // disallows (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val parsed = spark.read
      .schema(schema.add(Corrupt, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", Corrupt)
      .csv(path)
      .select(col("*"), sourceFile.as("__source_file"))
      .cache()
    try f(parsed.filter(col(Corrupt).isNull).drop(Corrupt, "__source_file"),
      parsed.filter(col(Corrupt).isNotNull)
        .select(col("__source_file").as("source_file"),
          col(Corrupt).as("raw_line")))
    finally parsed.unpersist()
  }

  /** Hockey-reference team-stats CSV -> RAW.TEAM_STATS
    * (ref: copy_into_nhl_stats_teams.sql:3-20: 14 positional string
    * columns, md5 over filename + all fields). */
  def readTeamStatsCsv(spark: SparkSession, path: String): DataFrame = {
    val renamed = Schemas.teamStatsCols.zipWithIndex.map {
      case (name, i) => cleanField(col(s"_c$i")).as(name)
    }
    spark.read.schema(Schemas.teamStatsCsv).csv(path)
      .select((col("*") +: renamed): _*)
      .select(
        Seq(
          current_timestamp().as("updated_at"),
          sourceFile.as("source_file"),
          // ref key: MD5(METADATA$FILENAME || TEAM)
          // (copy_into_nhl_stats_teams.sql:20)
          md5(concat(sourceFile, col("TEAM"))).as("unique_key")) ++
          Schemas.teamStatsCols.map(col): _*)
  }

  /** SportRadar schedule JSON -> RAW.NHL_API_*_SCHEDULES
    * (ref: copy_into_nhl_api_schedules.sql:3-11 — parse_json + path
    * promotion; here schema-first so Catalyst prunes nested fields).
    * The empty-payload guard (ref: nhl_api_dag.py:97-98) becomes a
    * games-not-null filter. */
  def readScheduleJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.sportradarSchedule)
      .option("multiLine", true).json(path)
      .select(
        // ref column set: updated_at, raw_json, unique_key,
        // source_file, games, league, season
        // (copy_into_nhl_api_schedules.sql:4-10). raw_json here is the
        // canonical re-serialization of the typed struct — byte-level
        // serialization divergence from Snowflake documented in
        // SURVEY.md §7 hard part 3.
        current_timestamp().as("updated_at"),
        to_json(struct(col("league"), col("season"), col("games")))
          .as("raw_json"),
        md5(concat(sourceFile,
          to_json(struct(col("league"), col("season"), col("games")))))
          .as("unique_key"),
        sourceFile.as("source_file"),
        col("games"), col("league"), col("season"))
      .filter(col("games").isNotNull)

  /** SportRadar seasons JSON -> RAW.NHL_API_SEASONS
    * (ref: copy_into_nhl_api_seasons.sql:3-9; note the reference
    * aliases the `seasons` array to column name `season`). */
  def readSeasonsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.sportradarSeasons)
      .option("multiLine", true).json(path)
      .select(
        current_timestamp().as("updated_at"),
        to_json(struct(col("league"), col("seasons"))).as("raw_json"),
        md5(concat(sourceFile,
          to_json(struct(col("league"), col("seasons")))))
          .as("unique_key"),
        sourceFile.as("source_file"),
        col("league"),
        col("seasons").as("season"))

  /** SportRadar teams JSON -> RAW.NHL_API_TEAMS
    * (ref: copy_into_nhl_api_teams.sql:3-9). */
  def readTeamsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.sportradarTeams)
      .option("multiLine", true).json(path)
      .select(
        current_timestamp().as("updated_at"),
        to_json(struct(col("league"), col("teams"))).as("raw_json"),
        md5(concat(sourceFile,
          to_json(struct(col("league"), col("teams")))))
          .as("unique_key"),
        sourceFile.as("source_file"),
        col("league"), col("teams"))
}

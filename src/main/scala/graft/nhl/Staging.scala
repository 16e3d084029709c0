package graft.nhl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Staging models — the reference's dbt staging layer as pure
  * `DataFrame => DataFrame` functions (SURVEY.md §1.1, §3 E3).
  */
object Staging {

  /** stg games / playoffs: identity pass-through. [[Pipeline]] stages
    * the COPY INTO target, whose per-file load history already makes a
    * replayed file a no-op, so no key filter runs here; the
    * reference's key-level `NOT IN` filter (ref: games.sql:9-13,
    * playoffs.sql:9-13) is Ledger.incrementalByKey, for a caller that
    * materializes the model as its own table. */
  def stgGames(raw: DataFrame): DataFrame = raw

  /** The 14 stat columns cleaned by the reference
    * (ref: team_statistics.sql:12-25). */
  private val statCols = Schemas.teamStatsCols

  /** Matches exactly the strings whose full uppercase contains
    * "DIVISION" (besides ASCII, only ı → I and ſ → S add one of its
    * letters), without `upper`, whose first use loads ICU case mapping
    * for the life of the JVM. */
  private val DivisionPattern = "[dD][iIı][vV][iIı][sSſ][iIı][oO][nN]"

  /** P6: scraped HTML embeds division-header rows; null them out
    * column-wise (ref: team_statistics.sql:12-25 CASE WHEN
    * UPPER(col) LIKE '%DIVISION%' THEN NULL), in one projection. */
  def nullOutDivisionRows(df: DataFrame): DataFrame = {
    val stat = statCols.toSet
    df.select(df.columns.toSeq.map { c =>
      val v = col(s"`${c.replace("`", "``")}`") // any name, dots included
      if (!stat(c)) v
      else when(v.rlike(DivisionPattern), lit(null)).otherwise(v).as(c)
    }: _*)
  }

  /** P5: keep rows where all 14 stat columns are non-null
    * (ref: team_statistics.sql:32-46). */
  def dropNullStatRows(df: DataFrame): DataFrame =
    df.filter(statCols.map(col(_).isNotNull).reduce(_ && _))

  /** stg team_statistics, faithful to the reference: the 14 cleaned
    * columns stay UNTYPED strings and the model carries updated_at +
    * unique_key (ref: team_statistics.sql:10-46 — note the reference
    * drops source_file here). */
  def stgTeamStatistics(raw: DataFrame): DataFrame =
    dropNullStatRows(nullOutDivisionRows(raw))
      .select((statCols.map(col) ++
        Seq(col("updated_at"), col("unique_key"))): _*)

  /** Engine extension: the typed view of team_statistics for
    * consumers that want real numerics (Dataset[TeamStat]-shaped). */
  def stgTeamStatisticsTyped(raw: DataFrame): DataFrame = {
    val cleaned = dropNullStatRows(nullOutDivisionRows(raw))
    cleaned.select(
      col("updated_at"), col("source_file"), col("unique_key"),
      col("TEAM").as("team"),
      col("GP").cast(LongType).as("gp"),
      col("OVERALL_WINS").cast(LongType).as("overall_wins"),
      col("OVERALL_LOSSES").cast(LongType).as("overall_losses"),
      col("OVERTIME_LOSSES").cast(LongType).as("overtime_losses"),
      col("TOTAL_POINTS").cast(LongType).as("total_points"),
      col("POINTS_PERCENTAGE").cast(DoubleType).as("points_percentage"),
      col("GOALS_FOR").cast(LongType).as("goals_for"),
      col("GOALS_AGAINST").cast(LongType).as("goals_against"),
      col("HOCKEY_REFERENCE_SRS").cast(DoubleType)
        .as("hockey_reference_srs"),
      col("STRENGTH_OF_SCHEDULE").cast(DoubleType)
        .as("strength_of_schedule"),
      col("POINTS_PERCENTAGE_IN_REGULATION").cast(DoubleType)
        .as("points_percentage_in_regulation"),
      col("WINS_IN_REGULATION").cast(LongType).as("wins_in_regulation"),
      col("REGULATION_RECORD").as("regulation_record"))
  }

  /** stg teams: lateral-flatten of the JSON teams array with parent
    * columns (incl. the parent's unique_key, duplicated per team — as
    * the reference does) + league path promotions + market||' '||name
    * (ref: teams.sql:8-17 LATERAL FLATTEN + concat). */
  def stgTeams(rawTeams: DataFrame): DataFrame =
    rawTeams
      .select(
        col("unique_key"), col("updated_at"), col("source_file"),
        col("league"), explode(col("teams")).as("f"))
      .select(
        col("unique_key"), col("updated_at"), col("source_file"),
        col("league.alias").as("league_name"),
        col("league.id").as("league_id"),
        col("f.alias").as("team_state_code"),
        col("f.id").as("team_id"),
        concat(col("f.market"), lit(" "), col("f.name")).as("team_name"))

  /** stg games from the JSON schedules: explode the promoted games
    * array into one row per game (SURVEY.md §3 E2 staging). */
  def stgApiGames(rawSchedules: DataFrame): DataFrame =
    rawSchedules
      .select(
        col("updated_at"), col("source_file"), col("unique_key"),
        col("season.year").as("season_year"),
        col("season.type").as("season_type"),
        explode(col("games")).as("g"))
      .select(
        col("updated_at"), col("source_file"),
        md5(concat_ws("|", col("unique_key"), col("g.id")))
          .as("unique_key"),
        col("season_year"), col("season_type"),
        col("g.id").as("game_id"),
        col("g.status").as("status"),
        col("g.scheduled").as("scheduled"),
        col("g.home.name").as("home_team"),
        col("g.away.name").as("away_team"),
        col("g.home_points").as("home_points"),
        col("g.away_points").as("away_points"))
}

package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.Pin

/** End-to-end pipeline mirroring the reference DAG (E1 in SURVEY.md §3):
  * bronze JSON fixtures → silver all-string tables → six gold models →
  * dbt-equivalent assertions. One SparkSession program replaces the
  * Airflow bronze/silver task groups and the dbt run; `ref()` becomes
  * ordinary function composition.
  */
final case class NbaPipeline(
    spark: SparkSession,
    bronzeDir: String,
    httpSources: Map[String, String] = Map.empty,
    httpSleeper: Long => Unit = Thread.sleep) {

  /** Bronze read — fixture file by default; a table listed in
    * `httpSources` is fetched live through the S4 retrying HTTP source
    * instead (reference: the weekly DAG hits the NBA API with
    * tenacity backoff ×5 and a rate-limit pause before anything lands
    * in bronze — dags/spurs_historic_games.py:125,138). Both paths
    * parse identically (HttpJsonSourceSpec pins row-for-row parity). */
  private def bronze(name: String): DataFrame =
    httpSources.get(name) match {
      case Some(url) =>
        graft.sources.HttpJsonSource.readJson(spark, url, sleeper = httpSleeper)
      case None =>
        spark.read.option("multiLine", value = true)
          .json(s"$bronzeDir/$name.json")
    }

  /** Seven silver tables (dags/spurs_historic_games.py:427-435), all
    * columns StringType. Each bronze file is parsed and normalized once
    * and pinned (`graft.plans.Pin`, posture `spark.graft.pin`), the way
    * the reference loads silver into Postgres once: every gold model,
    * write and check reads the pinned copy, never the bronze JSON. */
  lazy val silver: Map[String, DataFrame] = Map(
    "teams" -> "teams",
    "players" -> "players",
    "games" -> "games",
    "player_stats" -> "player_stats_by_game",
    "salaries" -> "salaries",
    "free_agents" -> "free_agents",
    "injuries" -> "injuries"
  ).map { case (name, file) => name -> Pin.pin(SilverNormalize.normalize(bronze(file))) }

  /** Six gold tables, each built once from pinned silver and pinned (one
    * CTAS per dbt model); `writeGold`, `saveAsTables` and `assertGold`
    * all read these copies. `players_recommendations` consumes the
    * pinned `team_weaknesses_unpivoted` (the one model-on-model edge,
    * dbt/target/graph_summary.json). */
  lazy val gold: Map[String, DataFrame] = {
    val twu = Pin.pin(GoldModels.teamWeaknessesUnpivoted(silver("games"), silver("teams")))
    Map(
      "summary_by_season" -> GoldModels.summaryBySeason(silver("games"), silver("teams")),
      "home_vs_away" -> GoldModels.homeVsAway(silver("games"), silver("teams")),
      "spurs_player_contributions_unpivoted" ->
        GoldModels.spursPlayerContributionsUnpivoted(silver("player_stats")),
      "streaks_and_rivals" -> GoldModels.streaksAndRivals(silver("games")),
      "players_recommendations" -> GoldModels.playersRecommendations(
        twu, silver("players"), silver("player_stats"),
        silver("free_agents"), silver("injuries"), silver("salaries"))
    ).map { case (name, df) => name -> Pin.pin(df) } +
      ("team_weaknesses_unpivoted" -> twu)
  }

  /** Materialize gold as parquet (the CTAS-and-swap analog, S11: Spark's
    * overwrite of a managed/path table IS the atomic swap). */
  def writeGold(outDir: String): Unit =
    gold.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }

  /** The 12 dbt schema tests; empty result = green. */
  def assertGold(): Seq[String] = Assertions.runAll(gold)

  /** E3 parity (SURVEY.md §3): expose silver/gold as catalog tables so
    * any SQL client (spark.sql, Thrift server/BI) can query them —
    * external parquet tables under `baseDir`, databases `silver`/`gold`.
    * Spark's overwrite of the table IS the reference's CTAS-and-swap. */
  def saveAsTables(baseDir: String): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS silver")
    spark.sql("CREATE DATABASE IF NOT EXISTS gold")
    silver.foreach { case (name, df) =>
      df.write.mode("overwrite").format("parquet")
        .option("path", s"$baseDir/silver/$name")
        .saveAsTable(s"silver.$name")
    }
    gold.foreach { case (name, df) =>
      df.write.mode("overwrite").format("parquet")
        .option("path", s"$baseDir/gold/$name")
        .saveAsTable(s"gold.$name")
    }
  }
}

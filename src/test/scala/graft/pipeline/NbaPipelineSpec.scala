package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end parity tests: bronze JSON fixtures (tools/gen_nba_fixtures.py,
  * shapes per FIXTURES.md) → silver → six gold models, with hand-computed
  * expectations baked into the fixture design.
  */
class NbaPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("nba-pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val pipe: NbaPipeline =
    NbaPipeline(spark, getClass.getResource("/nba").getPath)

  test("silver: all 7 tables land all-string with normalized names") {
    assert(pipe.silver.keySet === Set(
      "teams", "players", "games", "player_stats",
      "salaries", "free_agents", "injuries"))
    pipe.silver.foreach { case (name, df) =>
      assert(df.schema.fields.forall(_.dataType == StringType),
        s"$name has non-string columns")
      assert(df.columns.forall(c => c == c.toLowerCase), s"$name not lowercased")
    }
    // SEASON_YEAR → season (COLUMN_MAPPINGS)
    assert(pipe.silver("games").columns.contains("season"))
    assert(!pipe.silver("games").columns.contains("season_year"))
    assert(pipe.silver("games").count() === 52)
  }

  test("silver: first-record projection drops extras, nulls missing") {
    val df = pipe.silver("teams")
    val projected = SilverNormalize.project(df, Seq("id", "full_name", "not_there"))
    assert(projected.columns.toSeq === Seq("id", "full_name", "not_there"))
    assert(projected.filter(col("not_there").isNull).count() === projected.count())
  }

  test("summary_by_season: conditional counts + dense_rank") {
    val df = pipe.gold("summary_by_season")
    assert(df.count() === 8) // 2 seasons × 4 teams
    val sas = df.filter(col("season") === "2024-25" &&
      col("team_name") === "San Antonio Spurs").collect()(0)
    assert(sas.getAs[Long]("wins") === 7L)   // W W W W L L L W L W L W
    assert(sas.getAs[Long]("losses") === 5L)
    assert(sas.getAs[Long]("total_games") === 12L)
    // rankings are 1..n within each season
    val ranks = df.filter(col("season") === "2024-25")
      .select("team_ranking").collect().map(_.getInt(0)).sorted
    assert(ranks.head === 1)
  }

  test("home_vs_away: location split") {
    val df = pipe.gold("home_vs_away")
    val locs = df.select("location").distinct().collect().map(_.getString(0)).toSet
    assert(locs === Set("Home", "Away"))
    // SAS 2024-25: 7 home games (vs.), 5 away (@) per fixture design
    val sasHome = df.filter(col("season") === "2024-25" &&
      col("team_name") === "San Antonio Spurs" && col("location") === "Home")
      .collect()(0)
    assert(sasHome.getAs[Long]("games") === 7L)
  }

  test("team_weaknesses_unpivoted: 7 metrics × 2 seasons, directional CASE") {
    val df = pipe.gold("team_weaknesses_unpivoted")
    assert(df.count() === 14)
    val pm24 = df.filter(col("season2") === "2024-25" &&
      col("weakness_type") === "Diferencial Puntos").collect()(0)
    assert(pm24.getAs[String]("resultado") === "Debilidad") // SAS avg -50/12 < league 0
    val pm23 = df.filter(col("season2") === "2023-24" &&
      col("weakness_type") === "Diferencial Puntos").collect()(0)
    assert(pm23.getAs[String]("resultado") === "Fortaleza") // SAS avg +0.5 > 0
  }

  test("contributions: 8 SAS players × 7 metrics, exact averages") {
    val df = pipe.gold("spurs_player_contributions_unpivoted")
    assert(df.count() === 56)
    // player 101 (i=0): fg_pct base 0.400, symmetric deltas average out
    val v = df.filter(col("player_id") === "101" &&
      col("rubro") === "Porcentaje de tiro de campo")
      .collect()(0).getAs[java.math.BigDecimal]("valor")
    assert(math.abs(v.doubleValue() - 0.400) < 1e-9)
  }

  test("streaks_and_rivals: gaps-and-islands + argmax single row") {
    val row = pipe.gold("streaks_and_rivals").collect()(0)
    assert(row.getAs[String]("best_winning_streak_season") === "2024-25")
    assert(row.getAs[Long]("best_winning_streak_length") === 4L)
    assert(row.getAs[String]("worst_losing_streak_season") === "2024-25")
    assert(row.getAs[Long]("worst_losing_streak_length") === 3L)
    assert(row.getAs[String]("biggest_win_season") === "2023-24")
    assert(row.getAs[String]("team_beat_by_most") === "DEN")
    assert(row.getAs[Double]("biggest_win_margin") === 15.0)
    assert(row.getAs[String]("biggest_loss_season") === "2024-25")
    assert(row.getAs[String]("team_lost_to_by_most") === "BOS")
    assert(row.getAs[Double]("biggest_loss_margin") === -20.0)
  }

  test("players_recommendations: weakness join + top-5 branches") {
    val df = pipe.gold("players_recommendations").cache()
    val weakTypes = pipe.gold("team_weaknesses_unpivoted")
      .filter(col("resultado") === "Debilidad")
      .select("weakness_type").distinct()
      .collect().map(_.getString(0)).toSet
    val outTypes = df.select("weakness_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(outTypes.subsetOf(weakTypes))
    // 'Diferencial Puntos' is Debilidad only in 2024-25; its branch has no
    // position filter → exactly 5 recommended players
    val pm = df.filter(col("weakness_type") === "Diferencial Puntos")
    assert(pm.count() === 5)
    assert(pm.select("season2").distinct().collect().map(_.getString(0)).toSeq
      === Seq("2024-25"))
    // salary = max over seasons = 2024 row (500000 + pid*1100)
    val withSalary = df.filter(col("player_id").isNotNull &&
      col("salary").isNotNull).collect()
    withSalary.foreach { r =>
      val pid = r.getAs[String]("player_id").toInt
      val sal = r.getAs[java.math.BigDecimal]("salary").doubleValue()
      assert(math.abs(sal - (500000.0 + pid * 1100)) < 1e-6,
        s"salary for $pid was $sal")
    }
  }

  test("dbt schema assertions: all 12 green") {
    assert(pipe.assertGold() === Seq.empty)
  }

  test("dbt schema assertions: red checks and a missing table, exact messages") {
    import spark.implicits._
    val gold = Map(
      "team_weaknesses_unpivoted" -> Seq[(String, String, String)](
        ("2024-25", "Rebotes", "Debilidad"),
        (null, "Robos", "Fortaleza"),
        (null, "Bloqueos", null)) // a null resultado passes accepted_values
        .toDF("season2", "weakness_type", "resultado"),
      "summary_by_season" -> Seq(("2024-25", 1)).toDF("season", "team_ranking"),
      "spurs_player_contributions_unpivoted" -> Seq(("101", "Player 101", "Robos"))
        .toDF("player_id", "player_name", "rubro"),
      "home_vs_away" -> Seq("Home", "Away", "Neutral", "Neutral", null).toDF("location"))
    assert(Assertions.runAll(gold) === Seq(
      "team_weaknesses_unpivoted.season2: 2 null rows",
      "players_recommendations: missing from gold",
      "home_vs_away.location: 2 rows outside List(Home, Away)"))
  }

  test("read once: gold and the check aggregates scan no bronze JSON") {
    def jsonScans(df: DataFrame): Int = df.queryExecution.optimizedPlan.collectWithSubqueries {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _)
          if r.fileFormat.isInstanceOf[JsonFileFormat] => r
    }.size
    // the check itself sees a bronze read
    val bronze = spark.read.option("multiLine", value = true)
      .json(getClass.getResource("/nba/games.json").getPath)
    assert(jsonScans(bronze) === 1)
    assert(pipe.silver.size === 7)
    pipe.gold.foreach { case (name, df) => assert(jsonScans(df) === 0, name) }
    val aggs = Assertions.aggregates(pipe.gold)
    assert(aggs.map(_._1).toSet === pipe.gold.keySet - "streaks_and_rivals")
    aggs.foreach { case (name, df) => assert(jsonScans(df) === 0, name) }
  }

  test("dbt unique / relationships semantics") {
    import spark.implicits._
    val dup = Seq("a", "b", "b", "c", "c", null.asInstanceOf[String])
      .toDF("k")
    // 'b' and 'c' are duplicated VALUES → 2 violations; nulls excluded
    assert(Assertions.uniqueViolations(dup, "k") === 2L)
    assert(Assertions.uniqueViolations(dup.distinct(), "k") === 0L)

    val parent = Seq("x", "y").toDF("pk")
    val child = Seq("x", "x", "z", null.asInstanceOf[String]).toDF("fk")
    // one child value ('z', once) misses the parent; nulls pass
    assert(Assertions.relationshipViolations(child, "fk", parent, "pk") === 1L)
    assert(Assertions.relationshipViolations(parent, "pk", parent, "pk") === 0L)
  }
}

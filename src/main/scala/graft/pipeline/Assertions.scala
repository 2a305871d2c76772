package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count_if}

/** The reference's 12 dbt schema tests (10 not_null + 2 accepted_values,
  * dbt/models/spurs_analysis/spurs_analysis.yml:12-147), run as one
  * aggregate per gold table with a violating-row count per test; the
  * pipeline treats any non-zero count as a data-quality failure. The
  * dbt `unique` and `relationships` semantics are reusable checks.
  */
object Assertions {

  /** dbt `unique` semantics: count of VALUES that appear more than once
    * (dbt groups by the column and counts groups having count(*) > 1);
    * NULLs are excluded (dbt's generated SQL filters them). */
  def uniqueViolations(df: DataFrame, c: String): Long =
    df.filter(col(c).isNotNull)
      .groupBy(col(c))
      .count()
      .filter(col("count") > 1)
      .count()

  /** dbt `relationships` semantics: child values (non-null) that have no
    * match in the parent column — a broadcast-friendly left-anti join. */
  def relationshipViolations(
      child: DataFrame, childCol: String, parent: DataFrame, parentCol: String): Long = {
    // alias the parent key so child==parent self-checks don't collide
    val keys = parent.select(col(parentCol).as("__parent_key")).distinct()
    child.filter(col(childCol).isNotNull)
      .join(keys, col(childCol) === col("__parent_key"), "left_anti")
      .count()
  }

  /** The 12 tests per gold table, as (column, accepted values): `None`
    * is not_null, `Some(vals)` is accepted_values. Failures are reported
    * in this order. */
  private val tests: Seq[(String, Seq[(String, Option[Seq[String]])])] = Seq(
    "team_weaknesses_unpivoted" -> Seq("season2" -> None, "weakness_type" -> None,
      "resultado" -> Some(Seq("Debilidad", "Fortaleza"))),
    "summary_by_season" -> Seq("season" -> None, "team_ranking" -> None),
    "players_recommendations" ->
      Seq("season2" -> None, "recommended_player" -> None, "player_id" -> None),
    "spurs_player_contributions_unpivoted" ->
      Seq("player_id" -> None, "player_name" -> None, "rubro" -> None),
    "home_vs_away" -> Seq("location" -> Some(Seq("Home", "Away")))
  )

  /** Violating rows of one test. dbt accepted_values semantics: the
    * generated `NOT IN` predicate lets NULLs pass (three-valued logic),
    * so only non-null values outside the set count; null-ness is the job
    * of not_null tests. */
  private def violations(c: String, vals: Option[Seq[String]]): Column = vals match {
    case None => count_if(col(c).isNull)
    case Some(vs) => count_if(col(c).isNotNull && !col(c).isin(vs: _*))
  }

  /** One single-row aggregate per tested table present in `gold`: the
    * violation count of each of its tests, in `tests` order. */
  private[pipeline] def aggregates(gold: Map[String, DataFrame]): Seq[(String, DataFrame)] =
    tests.flatMap { case (table, cols) =>
      gold.get(table).map { df =>
        val counts = cols.map { case (c, vals) => violations(c, vals) }
        table -> df.agg(counts.head, counts.tail: _*)
      }
    }

  /** Run the full dbt test suite over the gold tables, one action per
    * table; returns failure descriptions (empty = all 12 pass). A tested
    * table missing from `gold` fails as well. */
  def runAll(gold: Map[String, DataFrame]): Seq[String] = {
    val counts = aggregates(gold).map { case (table, agg) => table -> agg.head() }.toMap
    tests.flatMap { case (table, cols) =>
      counts.get(table).fold(Seq(s"$table: missing from gold")) { row =>
        cols.zipWithIndex.flatMap { case ((c, vals), i) =>
          val n = row.getLong(i)
          if (n == 0) None
          else Some(vals.fold(s"$table.$c: $n null rows")(vs => s"$table.$c: $n rows outside $vs"))
        }
      }
    }
  }
}

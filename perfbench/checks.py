"""Correctness checks and end-to-end summaries, one per workload kind.

A refresh fails on an exception, a red assertion, a gold fingerprint that
differs from the run's first refresh, or gold tables that disagree with
DuckDB's own gold computed over the published silver tables. A query fails
on an exception or a result that differs from its DuckDB oracle. Failed
operations keep the time they took: nothing is dropped from a total.
"""
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
from decimal import Decimal

import duckdb

import stats

NO_WARM = "no time left after the cold operation; a larger --seconds or --trace 1 runs warm ones"

GOLD_TABLES = ["team_weaknesses_unpivoted", "summary_by_season", "home_vs_away",
               "spurs_player_contributions_unpivoted", "streaks_and_rivals",
               "players_recommendations"]
SILVER_TABLES = ["teams", "players", "games", "player_stats", "salaries", "free_agents",
                 "injuries"]

SEASON = "CASE WHEN season = '2024' THEN '2024-25' ELSE season END"
# (label, column, lower-is-better), in the gold models' order
WEAKNESS = [("Porcentaje de tiro de campo", "fg_pct", False),
            ("Porcentaje de tres", "fg3_pct", False),
            ("Pérdidas de balón", "tov", True), ("Rebotes", "reb", False),
            ("Robos", "stl", False), ("Bloqueos", "blk", False),
            ("Diferencial Puntos", "plus_minus", False)]
# (label, column, ascending rank, positions, reason)
RECS = [
    ("Porcentaje de tiro de campo", "fg_pct", False, ["G", "F"],
     "Contratar un tirador de élite para mejorar la eficiencia del tiro."),
    ("Porcentaje de tres", "fg3_pct", False, ["G", "G-F", "F"],
     "Contratar un tirador de élite para abrir el campo."),
    ("Rebotes", "reb", False, ["F", "F-C", "C"],
     "Adquirir un rebotador consistente para controlar los tableros."),
    ("Pérdidas de balón", "tov", True, ["G"],
     "Incorporar un base que reduzca las pérdidas de balón."),
    ("Robos", "stl", False, ["G", "F"],
     "Firmar un defensor perimetral para mejorar la defensa en el robo de balones."),
    ("Bloqueos", "blk", False, ["F-C", "C"],
     "Contratar un defensor interior para proteger el aro y aumentar los bloqueos."),
    ("Diferencial Puntos", "plus_minus", False, [],
     "Contratar a un jugador con impacto positivo en el diferencial de puntos."),
]


def avg6(c):
    return f"AVG(CAST({c} AS DECIMAL(18,6)))"


def gold_sql():
    """The six gold models in DuckDB's dialect, over schemas silver/duck."""
    avgs = lambda p: ", ".join(f"{avg6(c)} AS {p}{c}" for _, c, _ in WEAKNESS)
    bests = ", ".join(f"{'MIN' if low else 'MAX'}(avg_{c}) AS best_{c}" for _, c, low in WEAKNESS)
    twu_branches = "\nUNION ALL\n".join(
        f"SELECT season2, '{label}' AS weakness_type, avg_{c} AS valor_equipo, "
        f"lg_{c} AS valor_liga, best_{c} AS valor_mejor_equipo, CASE WHEN "
        f"{f'avg_{c} > lg_{c}' if low else f'avg_{c} < lg_{c}'} THEN 'Debilidad' "
        f"ELSE 'Fortaleza' END AS resultado FROM all_joined" for label, c, low in WEAKNESS)
    opponent = ("CASE WHEN matchup LIKE '%vs.%' THEN SPLIT_PART(matchup, 'vs. ', 2) "
                "WHEN matchup LIKE '%@%' THEN SPLIT_PART(matchup, '@ ', 2) ELSE matchup END")
    stat_cols = ["fg_pct", "fg3_pct", "reb", "tov", "stl", "blk", "plus_minus"]
    rank_cols = ", ".join(
        f"ROW_NUMBER() OVER (ORDER BY avg_{c} {'ASC' if asc else 'DESC'}) AS rank_avg_{c}"
        for _, c, asc, _, _ in RECS)
    rec_branches = "\nUNION ALL\n".join(
        f"SELECT '{label}' AS weakness_type, player_id, is_free_agent, is_injured, "
        f"player_name, avg_{c} AS metric_value, position, salary, '{reason}' AS reason "
        f"FROM ranked WHERE rank_avg_{c} <= 5"
        + (f" AND position IN ({', '.join(repr(p) for p in pos)})" if pos else "")
        for label, c, _, pos, reason in RECS)
    return {
        "summary_by_season": f"""
WITH nba AS (SELECT {SEASON} AS season, g.team_name, g.wl, CAST(g.pts AS INT) AS pts
  FROM silver.games g JOIN silver.teams t ON g.team_id = t.id),
sumariza AS (SELECT season, team_name, COUNT(*) AS total_games,
  SUM(CASE WHEN wl = 'W' THEN 1 ELSE 0 END) AS wins,
  SUM(CASE WHEN wl = 'L' THEN 1 ELSE 0 END) AS losses,
  ROUND({avg6('pts')}, 2) AS avg_points FROM nba GROUP BY season, team_name)
SELECT season, team_name, wins, losses, total_games, avg_points,
  DENSE_RANK() OVER (PARTITION BY season ORDER BY wins DESC, losses ASC, avg_points DESC)
    AS team_ranking FROM sumariza""",
        "home_vs_away": f"""
WITH base AS (SELECT {SEASON} AS season, t.full_name AS team_name,
  CASE WHEN g.matchup LIKE '%@%' THEN 'Away' ELSE 'Home' END AS location,
  g.wl, CAST(g.pts AS INT) AS pts
  FROM silver.games g JOIN silver.teams t ON g.team_id = t.id)
SELECT season, team_name, location, COUNT(*) AS games,
  SUM(CASE WHEN wl = 'W' THEN 1 ELSE 0 END) AS wins,
  SUM(CASE WHEN wl = 'L' THEN 1 ELSE 0 END) AS losses,
  ROUND({avg6('pts')}, 2) AS avg_points FROM base GROUP BY season, team_name, location""",
        "team_weaknesses_unpivoted": f"""
WITH with_season AS (SELECT *, {SEASON} AS season2 FROM silver.games),
spurs_stats AS (SELECT season2, {avgs('avg_')} FROM with_season
  WHERE team_name = 'San Antonio Spurs' GROUP BY season2),
joined AS (SELECT w.* FROM with_season w JOIN silver.teams t ON w.team_id = t.id),
league_avgs AS (SELECT season2, {avgs('lg_')} FROM joined GROUP BY season2),
per_team AS (SELECT season2, team_name, {avgs('avg_')} FROM joined GROUP BY season2, team_name),
best AS (SELECT season2, {bests} FROM per_team GROUP BY season2),
all_joined AS (SELECT s.*, {', '.join(f'l.lg_{c}' for _, c, _ in WEAKNESS)},
  {', '.join(f'b.best_{c}' for _, c, _ in WEAKNESS)}
  FROM spurs_stats s JOIN league_avgs l ON s.season2 = l.season2
  JOIN best b ON s.season2 = b.season2)
{twu_branches}""",
        "spurs_player_contributions_unpivoted": "WITH src AS (SELECT player_id, player_name, "
        f"team_abbreviation, {', '.join(f'{avg6(c)} AS avg_{c}' for _, c, _ in WEAKNESS)} "
        "FROM silver.player_stats WHERE team_abbreviation = 'SAS' "
        "GROUP BY player_id, player_name, team_abbreviation)\n" + "\nUNION ALL\n".join(
            f"SELECT player_id, player_name, '{label}' AS rubro, avg_{c} AS valor FROM src"
            for label, c, _ in WEAKNESS),
        "streaks_and_rivals": f"""
WITH spurs_games AS (SELECT {SEASON} AS season, game_date, matchup,
  CAST(plus_minus AS DOUBLE) AS plus_minus,
  CASE WHEN wl = 'W' THEN 1 ELSE 0 END AS is_win, CASE WHEN wl = 'L' THEN 1 ELSE 0 END AS is_loss
  FROM silver.games WHERE team_abbreviation = 'SAS'),
islands AS (SELECT *, SUM(is_loss) OVER (ORDER BY game_date) AS loss_group,
  SUM(is_win) OVER (ORDER BY game_date) AS win_group FROM spurs_games),
bws AS (SELECT FIRST(season) AS best_winning_streak_season,
  FIRST(streak_length) AS best_winning_streak_length FROM (SELECT season,
  COUNT(*) AS streak_length FROM islands WHERE is_win = 1 GROUP BY season, loss_group
  ORDER BY streak_length DESC LIMIT 1)),
wls AS (SELECT FIRST(season) AS worst_losing_streak_season,
  FIRST(streak_length) AS worst_losing_streak_length FROM (SELECT season,
  COUNT(*) AS streak_length FROM islands WHERE is_loss = 1 GROUP BY season, win_group
  ORDER BY streak_length DESC LIMIT 1)),
bw AS (SELECT FIRST(season) AS biggest_win_season, FIRST(opponent) AS team_beat_by_most,
  FIRST(point_differential) AS biggest_win_margin FROM (SELECT season, {opponent} AS opponent,
  plus_minus AS point_differential FROM spurs_games
  WHERE plus_minus = (SELECT MAX(plus_minus) FROM spurs_games)
  ORDER BY point_differential DESC LIMIT 1)),
bl AS (SELECT FIRST(season) AS biggest_loss_season, FIRST(opponent) AS team_lost_to_by_most,
  FIRST(point_differential) AS biggest_loss_margin FROM (SELECT season, {opponent} AS opponent,
  plus_minus AS point_differential FROM spurs_games
  WHERE plus_minus = (SELECT MIN(plus_minus) FROM spurs_games)
  ORDER BY point_differential ASC LIMIT 1))
SELECT * FROM bws CROSS JOIN wls CROSS JOIN bw CROSS JOIN bl""",
        "players_recommendations": f"""
WITH weak AS (SELECT season2, weakness_type FROM duck.team_weaknesses_unpivoted
  WHERE resultado = 'Debilidad'),
pgs AS (SELECT player_id, player_name AS pgs_player_name,
  {', '.join(f'{avg6(c)} AS avg_{c}' for c in stat_cols)}
  FROM silver.player_stats GROUP BY player_id, player_name),
dp AS (SELECT DISTINCT player_id, player, position FROM silver.players),
sal AS (SELECT player_id, MAX(salary_usd) AS salary_usd FROM silver.salaries GROUP BY player_id),
inj AS (SELECT DISTINCT player_id FROM silver.injuries),
ranked AS (SELECT dp.player_id, dp.player AS player_name, dp.position,
  fa.player_id IS NOT NULL AS is_free_agent, inj.player_id IS NOT NULL AS is_injured,
  CAST(sal.salary_usd AS DECIMAL(18,6)) AS salary,
  {', '.join(f'pgs.avg_{c}' for c in stat_cols)}, {rank_cols}
  FROM dp JOIN pgs ON dp.player_id = pgs.player_id
  LEFT JOIN silver.free_agents fa ON dp.player_id = fa.player_id
  LEFT JOIN inj ON dp.player_id = inj.player_id
  LEFT JOIN sal ON dp.player_id = sal.player_id),
targets AS ({rec_branches})
SELECT w.season2, t.weakness_type, t.player_name AS recommended_player, t.position,
  t.metric_value, t.salary, t.reason, t.player_id, t.is_free_agent, t.is_injured
FROM weak w JOIN targets t ON w.weakness_type = t.weakness_type""",
    }


def _canon_value(v):
    if isinstance(v, (Decimal, float)):
        return float(v)
    if v is None or isinstance(v, (bool, int)):
        return v
    return str(v)


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = [tuple(_canon_value(v) for v in r) for r in cur.fetchall()]
    key = lambda r: tuple((0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in r)
    return cols, sorted(rows, key=key)


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def gold_vs_duckdb(warehouse):
    """Compare each published gold table with DuckDB's gold over the
    published silver tables; returns a list of mismatch descriptions."""
    con = duckdb.connect()
    con.execute("CREATE SCHEMA silver; CREATE SCHEMA duck")
    for t in SILVER_TABLES:
        con.execute(f"CREATE VIEW silver.{t} AS SELECT * FROM "
                    f"read_parquet('{warehouse}/silver/{t}/*.parquet')")
    sql = gold_sql()
    errors = []
    for t in GOLD_TABLES:  # team_weaknesses_unpivoted first: recommendations read it
        con.execute(f"CREATE TABLE duck.{t} AS {sql[t]}")
        ecols, exp = _rows(con, f"SELECT * FROM duck.{t}")
        gcols, got = _rows(con, f"SELECT * FROM read_parquet('{warehouse}/gold/{t}/*.parquet')")
        if gcols != ecols:
            errors.append(f"gold {t}: columns {gcols} != duckdb {ecols}")
        elif len(got) != len(exp):
            errors.append(f"gold {t}: {len(got)} rows != duckdb {len(exp)}")
        else:
            for i, (g, e) in enumerate(zip(got, exp)):
                if not all(_close(x, y) for x, y in zip(g, e)):
                    errors.append(f"gold {t} row {i}: spark {g} != duckdb {e}")
                    break
    con.close()
    return errors


def gold_fingerprints(warehouse):
    """Row count and order-independent digest of each published gold table."""
    con = duckdb.connect()
    fp = {}
    for t in GOLD_TABLES:
        _, rows = _rows(con, f"SELECT * FROM read_parquet('{warehouse}/gold/{t}/*.parquet')")
        fp[t] = f"{len(rows)}:{hashlib.sha256(repr(rows).encode()).hexdigest()[:16]}"
    con.close()
    return fp


def summarize_refresh(res, input_sizes, fingerprints=gold_fingerprints):
    refreshes = res["refreshes"]
    errors = []
    failed = 0
    first_fp = None
    for i, r in enumerate(refreshes):
        errs = list(r["errors"])
        if not errs:
            fp = fingerprints(os.path.join(r["dir"], "warehouse"))
            first_fp = first_fp or fp
            if fp != first_fp:
                errs.append(f"gold fingerprint {fp} differs from refresh 0's {first_fp}")
            counts = {t: int(v.split(":")[0]) for t, v in fp.items()}
            if counts != r["readback_rows"]:
                errs.append(f"readback rows {r['readback_rows']} != published {counts}")
        if errs:
            failed += 1
            errors += [f"refresh {i}: {e}" for e in errs]
    if not errors:
        duck = gold_vs_duckdb(os.path.join(refreshes[-1]["dir"], "warehouse"))
        if duck:
            failed = len(refreshes)  # every refresh published the same wrong gold
            errors += duck
    walls = [r["wall_s"] for r in refreshes]
    warm = statistics.median(walls[1:]) if len(walls) > 1 else None
    rows = sum(v["rows"] for v in input_sizes.values())
    notes = {} if warm else {"warm_s_note": NO_WARM, "refresh_s_note": NO_WARM,
                             "rows_per_s_note": NO_WARM}
    return {**notes,
        "attempted": len(refreshes), "failed": failed, "errors": errors,
        "cold_s": walls[0], "warm_s": warm, "refresh_s": warm, "warm_samples": len(walls) - 1,
        "rows_per_s": rows / warm if warm else None, "cold_rows_per_s": rows / walls[0],
        "input_rows": rows,
        "input_bytes": sum(v["bytes"] for v in input_sizes.values()),
        "failed_ratio": failed / len(refreshes),
    }


def oracle_mismatches(data_dir, verify_dir):
    """Results vs SparkEntry.oracleSql in DuckDB, judged by the checkout's
    tools/check_oracle.py; returns ({name: reason}, queries checked)."""
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        n = len(json.load(f))
    r = subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"), data_dir,
                        verify_dir], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    bad = {}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL ") and ":" in line[5:]:
            name, why = line[5:].split(":", 1)
            bad[name.strip()] = why.strip()[:300]
    if r.returncode != 0 and not bad:
        bad["check_oracle.py"] = f"exited {r.returncode}: {r.stdout[-300:]}"
    return bad, n


def pass_seconds(p):
    """A pass costs the sum of its queries' walls, failed ones included."""
    return sum(q["s"] for q in p["queries"])


def summarize_queries(res, names, bad_oracle, n_oracle):
    errors = []
    attempted = failed = 0

    def count(qs, label):
        nonlocal attempted, failed
        for q in qs:
            attempted += 1
            if "error" in q:
                failed += 1
                errors.append(f"{label} {q['name']}: {q['error']}")

    count(res["cold_pass"]["queries"], "cold")
    for p in res["warm_passes"]:
        count(p["queries"], "warm")
    for g in res["gold_gate"]:
        attempted += len(g["runs"])
        failed += len(g["errors"])
        errors += [f"gate {g['name']}: {e}" for e in g["errors"]]
    failed += len(bad_oracle)
    errors += [f"oracle {n}: {why}" for n, why in sorted(bad_oracle.items())]
    cold = pass_seconds(res["cold_pass"])
    warm_walls = [pass_seconds(p) for p in res["warm_passes"]]
    warm = statistics.median(warm_walls) if warm_walls else None
    samples = [q["s"] for p in res["warm_passes"] for q in p["queries"]]
    out = {
        "attempted": attempted, "failed": failed, "errors": errors,
        "cold_s": cold, "warm_s": warm, "pass_s": warm, "warm_samples": len(warm_walls),
        "queries": len(names), "oracle_checked": n_oracle,
        "gold_gate_s": sum(g["s"] for g in res["gold_gate"]) if res["gold_gate"] else None,
        "query_samples": len(samples),
        "pinned_mb": res["pinned_mb"], "pinned_blocks": res["pinned_blocks"],
        "cold_extra_s": cold - warm if warm_walls else None, "failed_ratio": failed / attempted,
    }
    if not warm_walls:
        out["warm_s_note"] = out["pass_s_note"] = NO_WARM
    if not res["gold_gate"]:
        out["gold_gate_s_note"] = "measured by the traced run (--trace 1)"
    for q, key in ((0.5, "query_p50_s"), (0.9, "query_p90_s")):
        try:
            out[key] = stats.percentile(samples, q)
        except ValueError as e:
            out[key] = None
            out[f"{key}_note"] = str(e)
    return out

"""Seeded NBA-shaped bronze generator for the medallion refresh workloads.

Shape follows the reference bronze drop (uppercase API keys, single-line
`games.json`, the other six files pretty-printed with a 4-space indent):
30 teams, 82-game seasons (41 home, 41 away per team), about 10.5
player-stat rows per team-game, and the season count as the scale knob.

The data is built so every gold model has one right answer, which the
benchmark checks against DuckDB:
  * each team plays at most once a day, so the Spurs' `game_date` order
    is total;
  * the Spurs' longest win and loss streaks and their largest win and
    loss margins are planted and unique;
  * every player's per-game stats are a distinct per-player base plus
    zero-sum deltas, so the player averages that `players_recommendations`
    ranks are exact and tie-free.
"""
import datetime
import json
import os
import random

TEAM_NAMES = [
    ("San Antonio Spurs", "SAS"), ("Los Angeles Lakers", "LAL"),
    ("Boston Celtics", "BOS"), ("Denver Nuggets", "DEN"),
    ("Atlanta Hawks", "ATL"), ("Brooklyn Nets", "BKN"),
    ("Charlotte Hornets", "CHA"), ("Chicago Bulls", "CHI"),
    ("Cleveland Cavaliers", "CLE"), ("Dallas Mavericks", "DAL"),
    ("Detroit Pistons", "DET"), ("Golden State Warriors", "GSW"),
    ("Houston Rockets", "HOU"), ("Indiana Pacers", "IND"),
    ("Los Angeles Clippers", "LAC"), ("Memphis Grizzlies", "MEM"),
    ("Miami Heat", "MIA"), ("Milwaukee Bucks", "MIL"),
    ("Minnesota Timberwolves", "MIN"), ("New Orleans Pelicans", "NOP"),
    ("New York Knicks", "NYK"), ("Oklahoma City Thunder", "OKC"),
    ("Orlando Magic", "ORL"), ("Philadelphia 76ers", "PHI"),
    ("Phoenix Suns", "PHX"), ("Portland Trail Blazers", "POR"),
    ("Sacramento Kings", "SAC"), ("Toronto Raptors", "TOR"),
    ("Utah Jazz", "UTA"), ("Washington Wizards", "WAS"),
]
ROSTER = 15
POSITIONS = ["G", "G", "G-F", "F", "F", "F-C", "C", "G", "F", "C",
             "G", "F", "G-F", "F-C", "C"]
LESIONS = ["Esguince de tobillo", "Rotura fibrilar", "Tendinitis rotuliana",
           "Fascitis plantar", "Contusión ósea"]
FILES = ["teams", "players", "games", "player_stats_by_game", "salaries",
         "free_agents", "injuries"]

# Per-player stat metrics: (key, decimals, base offset, base step, max |delta|)
# in integer units of 10**-decimals. Bases are distinct per player.
PLAYER_METRICS = [
    ("FG_PCT", 4, 3800, 3, 600),
    ("FG3_PCT", 4, 2900, 3, 700),
    ("REB", 2, 200, 2, 150),
    ("TOV", 2, 50, 1, 45),
    ("STL", 2, 30, 1, 25),
    ("BLK", 2, 10, 1, 9),
    ("PLUS_MINUS", 2, -800, 4, 900),
]


def season_labels(seasons):
    """Oldest first; the latest season carries the reference's bare "2024"
    label, which the gold models normalize to 2024-25."""
    labels = [f"{y}-{(y + 1) % 100:02d}" for y in range(2024 - seasons + 1, 2024)]
    return labels + ["2024"]


def round_robin(n, r):
    """Circle-method round `r` for `n` (even) teams: list of index pairs."""
    rest = list(range(1, n))
    k = r % (n - 1)
    rest = rest[k:] + rest[:k]
    order = [0] + rest
    return [(order[i], order[n - 1 - i]) for i in range(n // 2)]


def _num(units, decimals):
    return round(units / 10 ** decimals, decimals)


def _dump_pretty(rows, keys):
    """json.dump(rows, indent=4) for flat records, built with the C encoder
    per value (the pure-Python indenting encoder is ~10x slower)."""
    enc = json.dumps
    parts = []
    for row in rows:
        body = ",\n".join(f'        {enc(k)}: {enc(row[k])}' for k in keys)
        parts.append("    {\n" + body + "\n    }")
    return "[\n" + ",\n".join(parts) + "\n]"


def _streak_pattern(rng, seasons):
    """A Spurs W/L sequence over all seasons: runs capped at 5, plus one
    planted 9-game win streak and one 8-game loss streak, each inside one
    season (the gold model splits streaks at season boundaries)."""
    n_games = 82 * seasons
    seq = []
    while len(seq) < n_games:
        want = "W" if (not seq or seq[-1] == "L") else "L"
        seq.extend([want] * rng.randint(1, 5))
    seq = seq[:n_games]
    win_at = 82 * rng.randrange(seasons) + rng.randrange(2, 30)
    loss_at = 82 * rng.randrange(seasons) + rng.randrange(45, 70)
    for start, wl, length in ((win_at, "W", 9), (loss_at, "L", 8)):
        other = "L" if wl == "W" else "W"
        seq[start - 1] = other
        for i in range(start, start + length):
            seq[i] = wl
        seq[start + length] = other
    return seq, win_at + 4, loss_at + 3


def generate(out_dir, seed, seasons):
    """Write the seven bronze files; return {file: {"rows", "bytes"}}."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    labels = season_labels(seasons)
    n_teams = len(TEAM_NAMES)
    team_ids = [1610612737 + i for i in range(n_teams)]
    teams = [{"id": team_ids[i], "full_name": name, "abbreviation": abbr,
              "nickname": name.split()[-1], "city": " ".join(name.split()[:-1]),
              "state": "NA", "year_founded": 1946 + rng.randrange(60)}
             for i, (name, abbr) in enumerate(TEAM_NAMES)]

    # Stable rosters; player index k (0..449) drives every per-player base.
    n_players = n_teams * ROSTER
    perms = {m[0]: rng.sample(range(n_players), n_players) for m in PLAYER_METRICS}
    player_ids = [1626000 + 7 * k + rng.randrange(7) for k in range(n_players)]

    # Schedule: per season 41 pairings, each played once at each venue.
    schedule = []  # (season_idx, date, home, away)
    for s, label in enumerate(labels):
        start = datetime.date(int(label[:4]), 10, 20)
        shuffle = rng.sample(range(n_teams), n_teams)
        days = list(range(82))
        rng.shuffle(days)
        for r in range(41):
            pairs = [(shuffle[a], shuffle[b]) for a, b in round_robin(n_teams, r)]
            for leg, day in enumerate((days[2 * r], days[2 * r + 1])):
                for a, b in pairs:
                    home, away = (a, b) if (leg + r) % 2 == 0 else (b, a)
                    schedule.append((s, start + datetime.timedelta(days=day), home, away))
    schedule.sort(key=lambda g: (g[0], g[1], g[2]))

    sas_games = [i for i, g in enumerate(schedule) if 0 in (g[2], g[3])]
    sas_wl, big_win_at, big_loss_at = _streak_pattern(rng, seasons)
    sas_result = dict(zip(sas_games, sas_wl))
    sas_margin = {sas_games[big_win_at]: 41, sas_games[big_loss_at]: -43}

    games, stats = [], []
    game_rows_by_player = [[] for _ in range(n_players)]
    for gi, (s, date, home, away) in enumerate(schedule):
        label = labels[s]
        gid = f"002{s:02d}{gi:05d}"
        margin = rng.randint(1, 30)
        if gi in sas_result:
            sas_home = home == 0
            sas_margin_gi = sas_margin.get(gi, margin if sas_result[gi] == "W" else -margin)
            home_pm = sas_margin_gi if sas_home else -sas_margin_gi
        else:
            home_pm = margin if rng.random() < 0.55 else -margin
        home_pts = rng.randint(95, 130)
        away_pts = home_pts - home_pm
        for team, opp, pts, pm, is_home in ((home, away, home_pts, home_pm, True),
                                            (away, home, away_pts, -home_pm, False)):
            name, abbr = TEAM_NAMES[team]
            oabbr = TEAM_NAMES[opp][1]
            matchup = f"{abbr} vs. {oabbr}" if is_home else f"{abbr} @ {oabbr}"
            wl = "W" if pm > 0 else "L"
            games.append({
                "SEASON_YEAR": label, "TEAM_ID": team_ids[team],
                "TEAM_ABBREVIATION": abbr, "TEAM_NAME": name, "GAME_ID": gid,
                "GAME_DATE": f"{date.isoformat()}T00:00:00", "MATCHUP": matchup,
                "WL": wl, "PTS": pts,
                "FG_PCT": round(rng.uniform(0.38, 0.55), 3),
                "FG3_PCT": round(rng.uniform(0.28, 0.42), 3),
                "TOV": rng.randint(8, 20), "REB": rng.randint(35, 55),
                "BLK": rng.randint(1, 10), "STL": rng.randint(3, 13),
                "PLUS_MINUS": float(pm),
            })
            played = rng.sample(range(ROSTER), 10 + rng.randrange(2))
            for slot in sorted(played):
                k = team * ROSTER + slot
                row = {"SEASON_YEAR": label, "PLAYER_ID": player_ids[k],
                       "PLAYER_NAME": f"Player {player_ids[k]}",
                       "TEAM_ID": team_ids[team], "TEAM_ABBREVIATION": abbr,
                       "GAME_ID": gid, "GAME_DATE": f"{date.isoformat()}T00:00:00",
                       "MATCHUP": matchup, "WL": wl}
                stats.append(row)
                game_rows_by_player[k].append(row)

    # Per-player stats: base + zero-sum deltas, so each average is the base.
    for k, rows in enumerate(game_rows_by_player):
        for key, dec, offset, step, spread in PLAYER_METRICS:
            base = offset + step * perms[key][k]
            half = [rng.randint(0, spread) for _ in range(len(rows) // 2)]
            deltas = [d for h in half for d in (h, -h)] + [0] * (len(rows) % 2)
            rng.shuffle(deltas)
            for row, d in zip(rows, deltas):
                row[key] = _num(base + d, dec)

    players, salaries = [], []
    for s, label in enumerate(labels):
        season_year = int(label[:4])
        for k in range(n_players):
            pid, slot = player_ids[k], k % ROSTER
            players.append({
                "TeamID": team_ids[k // ROSTER], "SEASON": season_year,
                "PLAYER": f"Player {pid}", "NUM": str(slot + 1),
                "POSITION": POSITIONS[slot], "HEIGHT": f"6-{slot % 12}",
                "WEIGHT": str(180 + 3 * slot), "AGE": float(20 + (k + s) % 16),
                "EXP": str((k + s) % 15), "PLAYER_ID": pid})
            salaries.append({
                "player_id": pid, "player_name": f"Player {pid}", "season": season_year,
                "salary_usd": round(rng.uniform(1.1e6, 4.5e7), 2)})
    fa_idx = sorted(rng.sample(range(n_players), 60))
    free_agents = [{"player_id": player_ids[k], "player_name": f"Player {player_ids[k]}",
                    "position": POSITIONS[k % ROSTER], "age": 21 + k % 15,
                    "age_experience": 1 + k % 12,
                    "avalaiblefrom": f"2024-07-{1 + k % 28:02d}"} for k in fa_idx]
    injuries = []
    for _ in range(8 * seasons):
        k = rng.randrange(n_players)
        day = datetime.date(2015 + rng.randrange(seasons), 11, 1) + \
            datetime.timedelta(days=rng.randrange(150))
        injuries.append({"player_id": player_ids[k], "player_name": f"Player {player_ids[k]}",
                         "lesion": rng.choice(LESIONS), "date": day.isoformat()})

    tables = {"teams": teams, "players": players, "games": games,
              "player_stats_by_game": stats, "salaries": salaries,
              "free_agents": free_agents, "injuries": injuries}
    sizes = {}
    for name in FILES:
        rows = tables[name]
        text = json.dumps(rows) if name == "games" else _dump_pretty(rows, list(rows[0]))
        data = text.encode("utf-8")
        with open(os.path.join(out_dir, f"{name}.json"), "wb") as f:
            f.write(data)
        sizes[name] = {"rows": len(rows), "bytes": len(data)}
    return sizes


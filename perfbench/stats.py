"""Percentiles, per-layer metrics of a traced run, and the printed report."""
import math
import statistics

# the ROADMAP.md query targets queries_sf001 runs
NAMED_QUERIES = ["x54_containment_pairs", "x152_copurchase_pagerank", "g06_recommendations"]
PACKS = ["Relational", "GoldAnalogs", "TrainingData", "Analytics"]
CALLS = ["write_gold", "readback", "publish", "bi_query", "assertions"]
GOLD_MODELS = ["team_weaknesses_unpivoted", "summary_by_season", "home_vs_away",
               "spurs_player_contributions_unpivoted", "streaks_and_rivals",
               "players_recommendations"]

# Every per-layer metric, in BENCHMARK.json order. A workload reports 0 for
# a layer it never calls (the query workload never publishes gold).
PER_LAYER = (
    [(f"pipeline.{c}_{s}", u) for c in CALLS for s, u in (("s", "s"), ("jobs", "count"))
     if (c, s) != ("bi_query", "jobs")]
    + [("pipeline.span_coverage", "ratio"), ("pipeline.silver_normalize_s", "s")]
    + [(f"pipeline.gold.{m}_s", "s") for m in GOLD_MODELS]
    + [("pipeline.assertions_isolated_s", "s"), ("sources.bronze_parse_s", "s"),
       ("sources.bronze_read_ratio", "ratio"),
       ("refresh.jobs", "count"), ("refresh.stages", "count"), ("refresh.tasks", "count"),
       ("catalyst.executions", "count"), ("catalyst.analysis_ms", "ms"),
       ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
       ("spark.sched_floor_s", "s"), ("spark.floor_share", "ratio"),
       ("spark.busy_ratio", "ratio"), ("spark.shuffle_write_mb", "MB"),
       ("spark.spill_mb", "MB"), ("spark.output_mb", "MB"), ("jvm.gc_ms", "ms")]
    + [(f"operators.{p}_{s}", u) for p in PACKS for s, u in (("s", "s"), ("jobs", "count"))]
    + [("operators.jobs_per_query_p50", "count"), ("operators.floor_bound_queries", "count"),
       ("operators.gold_gate_s", "s")]
    + [(f"query.{q}_{s}", u) for q in NAMED_QUERIES for s, u in (("s", "s"), ("jobs", "count"))]
    + [("registries.pinned_mb", "MB"), ("registries.pinned_blocks", "count"),
       ("registries.cold_extra_s", "s")]
    # the traced run's own end-to-end figures: minus the untraced medians,
    # they are the tracing overhead
    + [(f"trace.{n}", u) for n, u in (("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
                                       ("retained_heap_mb", "MB"), ("peak_rss_mb", "MB"))]
)
MB = 1048576.0


def percentile(values, q, beyond=10):
    """Nearest-rank q-quantile; refuses unless at least `beyond` samples lie
    above the chosen rank, so a p90 needs 100 samples and a p50 20."""
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        raise ValueError(f"p{round(q * 100)} needs {beyond} samples beyond it; "
                         f"{n} samples give {max(0, n - rank)}")
    return sorted(values)[rank - 1]


def _engine(agg_list, wall, floor, cpus):
    """Context metrics of one warm operation from its summed aggregates."""
    tot = {}
    for a in agg_list:
        for k, v in a.items():
            tot[k] = tot.get(k, 0.0) + v
    g = lambda k: tot.get(k, 0.0)
    return tot, {
        "catalyst.executions": g("executions"), "catalyst.analysis_ms": g("analysis_ms"),
        "catalyst.optimization_ms": g("optimization_ms"),
        "catalyst.planning_ms": g("planning_ms"),
        "spark.floor_share": g("jobs") * floor / wall,
        "spark.busy_ratio": g("run_ms") / 1000.0 / (wall * cpus),
        "spark.shuffle_write_mb": g("shuffle_write_bytes") / MB,
        "spark.spill_mb": g("spill_bytes") / MB, "spark.output_mb": g("output_bytes") / MB,
    }


def _median_dicts(dicts):
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def per_layer(res, summary, prov, kind):
    m = {name: 0.0 for name, _ in PER_LAYER}
    floor, cpus = prov["sched_floor_s"], prov["cpus"]
    m["spark.sched_floor_s"] = floor
    if kind == "refresh":
        per_refresh = []
        for r in res["refreshes"][1:]:
            d, spans = {}, r["spans"]
            for c in CALLS:
                d[f"pipeline.{c}_s"] = r["spans_s"][c]
                if c != "bi_query":
                    d[f"pipeline.{c}_jobs"] = spans[c]["jobs"]
            d["pipeline.span_coverage"] = sum(r["spans_s"].values()) / r["wall_s"]
            tot, eng = _engine(spans.values(), r["wall_s"], floor, cpus)
            d.update(eng)
            d["refresh.jobs"], d["refresh.stages"] = tot["jobs"], tot["stages"]
            d["refresh.tasks"] = tot["tasks"]
            d["sources.bronze_read_ratio"] = \
                (tot["json_scan_bytes"] + tot["non_sql_input_bytes"]) / summary["input_bytes"]
            d["jvm.gc_ms"] = r["gc_ms"]
            per_refresh.append(d)
        m.update(_median_dicts(per_refresh))
        m.update(dict(res["isolated"]))
    else:
        packs = res["packs"]
        per_pass = []
        for p in res["warm_passes"]:
            d = {}
            qs = p["queries"]  # the gate has its own metric
            for pk in PACKS:
                mine = [q for q in qs if packs.get(q["name"]) == pk]
                d[f"operators.{pk}_s"] = sum(q["s"] for q in mine)
                d[f"operators.{pk}_jobs"] = sum(q["agg"]["jobs"] for q in mine)
            by_name = {q["name"]: q for q in qs}
            for n in NAMED_QUERIES:
                if n in by_name:
                    d[f"query.{n}_s"] = by_name[n]["s"]
                    d[f"query.{n}_jobs"] = by_name[n]["agg"]["jobs"]
            d["operators.jobs_per_query_p50"] = statistics.median(q["agg"]["jobs"] for q in qs)
            d["operators.floor_bound_queries"] = sum(
                1 for q in qs if q["s"] <= 1.5 * q["agg"]["jobs"] * floor)
            _, eng = _engine([q["agg"] for q in p["queries"]], p["wall_s"], floor, cpus)
            d.update(eng)
            d["jvm.gc_ms"] = p["gc_ms"]
            per_pass.append(d)
        m.update(_median_dicts(per_pass))
        m["operators.gold_gate_s"] = summary["gold_gate_s"] or 0.0
        m["registries.pinned_mb"] = summary["pinned_mb"]
        m["registries.pinned_blocks"] = summary["pinned_blocks"]
        m["registries.cold_extra_s"] = summary["cold_extra_s"]
    for n in ("setup_s", "cold_s", "warm_s", "retained_heap_mb", "peak_rss_mb"):
        m[f"trace.{n}"] = summary[n]
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in PER_LAYER}


SUMMARY_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "refresh_s": "s", "pass_s": "s",
    "rows_per_s": "rows/s", "cold_rows_per_s": "rows/s", "query_p50_s": "s", "query_p90_s": "s", "gold_gate_s": "s",
    "retained_heap_mb": "MB", "peak_rss_mb": "MB", "failed_ratio": "ratio",
}


def report_lines(summary, prov, metrics):
    """Every end-to-end metric that applies, by name and unit, then the
    provenance a reader needs to tell host noise from an engine change."""
    lines = []
    for k, unit in SUMMARY_UNITS.items():
        if k in summary:
            v = summary[k]
            note = summary.get(f"{k}_note", "not measured by this workload or run")
            lines.append(f"metric {k} = {'n/a (' + note + ')' if v is None else v} {unit}")
    for k in ("warm_samples", "query_samples", "queries", "oracle_checked", "input_rows",
              "input_bytes", "attempted", "failed"):
        if k in summary:
            lines.append(f"count {k} = {summary[k]}")
    for k in ("workload", "seed", "cpus", "master", "heap", "max_heap_mb", "sched_floor_start_s",
              "sched_floor_end_s", "setup_split_s", "input_scale"):
        if k in prov:
            lines.append(f"provenance {k} = {prov[k]}")
    for name, size in prov["input"].items():
        lines.append(f"input {name}: {size['rows']} rows, {size['bytes']} bytes")
    if prov["trace"]:
        for name, v in metrics.items():
            lines.append(f"layer {name} = {v['value']} {v['unit']}")
    return lines

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{Assertions, GoldModels, NbaPipeline, SilverNormalize}

/** One benchmark process. `run.py` starts it, generates its inputs and
  * checks its outputs; this side only drives the program's public calls
  * in a closed loop (one operation at a time) and writes what it measured
  * as one JSON object to `--out`.
  *
  * {{{
  * perfbench.Main --workload refresh|queries --work DIR --input DIR
  *                --seconds S --trace 0|1 --cpus N --out FILE --order FILE --gate 0|1
  * }}}
  */
object Main {
  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def trace: Boolean = apply("trace") == "1"
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = mutable.LinkedHashMap.empty[String, Any]
    val spark = session(o)
    out("session_epoch_ms") = System.currentTimeMillis()
    // the session is ready once its first jobs and a first parquet round
    // trip have run: they load and compile the engine, a cost that would
    // otherwise land on whichever query the seed puts first
    out("sched_floor_start_s") = schedFloor(spark)
    out("floor_epoch_ms") = System.currentTimeMillis()
    warmUp(spark, s"${o("work")}/warmup")
    out("ready_epoch_ms") = System.currentTimeMillis()
    out("jvm_start_epoch_ms") = ManagementFactory.getRuntimeMXBean.getStartTime
    out("cpus") = o.int("cpus")
    out("master") = spark.sparkContext.master
    out("max_heap_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    try {
      o("workload") match {
        case "refresh" => Refresh(spark, o, out).run()
        case "queries" => Queries(spark, o, out).run()
        case w => sys.error(s"unknown workload $w")
      }
      // the second collection frees what Spark's ContextCleaner released
      // after the first (broadcasts and shuffles of dropped plans)
      System.gc()
      Thread.sleep(500)
      System.gc()
      out("retained_heap_mb") =
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      out("peak_rss_mb") = peakRssMb()
    } finally {
      Files.writeString(Paths.get(o("out")), Json(out))
      spark.stop()
    }
  }

  /** The session profile RunNbaPipeline and Bench use: local[cpus] with
    * shuffle partitions equal to cores and AQE on; the query registry
    * additionally runs the engine's optimizer extensions, as Bench does. */
  def session(o: Opts): SparkSession = {
    val cpus = o("cpus")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o("workload")}")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o("work")}/spark-warehouse")
      .config("spark.local.dir", s"${o("work")}/spark-local")
    if (o("workload") == "queries") b.config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of `body`, and the exception it raised, if any. A failed
    * call keeps the time it took. */
  def timed(body: => Unit): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err =
      try { body; None }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
    (secondsSince(t0), err)
  }

  /** Scheduler floor: each of 10 trivial one-task jobs. A run probes at its
    * start and at its end; the 20 together give `spark.sched_floor_s`. */
  def schedFloor(spark: SparkSession): Seq[Double] =
    (1 to 10).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).count()
      secondsSince(t0)
    }

  /** A small parquet file of its own, written and read back through a
    * shuffle, aggregate and join; calls no program function and reads no
    * workload input. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(100000).selectExpr("id % 97 AS k", "id AS v", "cast(id AS string) AS s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("perfbench_warmup")
    spark.sql("""SELECT k, count(*), sum(v), avg(v), max(s) FROM perfbench_warmup
      JOIN (SELECT id AS k FROM range(97)) b USING (k) GROUP BY k""").collect()
    spark.catalog.dropTempView("perfbench_warmup")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Medallion refresh: the call sequence of RunNbaPipeline.main, repeated. */
final case class Refresh(spark: SparkSession, o: Main.Opts, out: mutable.LinkedHashMap[String, Any]) {
  import Main._

  private val bronze = o("input")
  private val outDir = s"${o("work")}/gold"
  private val probe = if (o.trace) Some(Probe.install(spark)) else None
  private val calls = Seq("write_gold", "readback", "publish", "bi_query", "assertions")

  /** One refresh into its own directory `gold/r<i>`: per-call wall,
    * per-call engine totals (traced), whole wall, failure reasons, and the
    * readback row counts. run.py fingerprints each published gold. */
  def refresh(i: Int): mutable.LinkedHashMap[String, Any] = {
    val r = mutable.LinkedHashMap.empty[String, Any]
    val dir = s"$outDir/r$i"
    val pipe = NbaPipeline(spark, bronze)
    val errors = mutable.ArrayBuffer.empty[String]
    var counts = Map.empty[String, Long]
    var champions = 0
    var failures = Seq.empty[String]
    val bodies: Map[String, () => Unit] = Map(
      "write_gold" -> (() => pipe.writeGold(dir)),
      "readback" -> (() => counts = pipe.gold.keys.map(n =>
        n -> spark.read.parquet(s"$dir/$n").count()).toMap),
      "publish" -> (() => pipe.saveAsTables(s"$dir/warehouse")),
      "bi_query" -> (() => champions = spark.sql(
        "SELECT season, team_name FROM gold.summary_by_season WHERE team_ranking = 1")
        .collect().length),
      "assertions" -> (() => failures = pipe.assertGold()))
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val spans = calls.map { c =>
      val tag = s"refresh$i/$c"
      val (sec, err) =
        if (errors.nonEmpty) (0.0, None)
        else if (o.trace) timed(Probe.tagged(spark, tag)(bodies(c)()))
        else timed(bodies(c)())
      err.foreach(e => errors += s"$c: $e")
      c -> (sec, probe.map(_.take(tag)))
    }
    r("wall_s") = secondsSince(t0)
    r("gc_ms") = gcMs() - gc0
    r("spans_s") = spans.map { case (c, (s, _)) => c -> s }
    if (o.trace) r("spans") = spans.map { case (c, (_, a)) => c -> a.get.toMap }
    failures.foreach(f => errors += s"assertion: $f")
    if (errors.isEmpty && champions == 0) errors += "bi_query: no champion rows"
    r("dir") = dir
    r("readback_rows") = counts
    r("errors") = errors.toSeq
    r
  }

  def run(): Unit = {
    val deadline = System.nanoTime() + (o.int("seconds") * 1e9).toLong
    // the cold refresh, then warm ones while time is left; a traced run
    // always takes one warm refresh apart
    val refreshes = mutable.ArrayBuffer(refresh(0))
    while (System.nanoTime() < deadline || (o.trace && refreshes.size < 2))
      refreshes += refresh(refreshes.size)
    if (o.trace) out("isolated") = isolated()
    out("refreshes") = refreshes.toSeq
    out("sched_floor_end_s") = schedFloor(spark)
  }

  /** Layer costs on frames already materialized in memory: bronze parse,
    * silver normalize, each gold model, and the assertion suite. */
  def isolated(): Seq[(String, Double)] = {
    val files = Seq("teams", "players", "games", "player_stats_by_game", "salaries",
      "free_agents", "injuries")
    def read(f: String) = spark.read.option("multiLine", value = true).json(s"$bronze/$f.json")
    val res = mutable.ArrayBuffer.empty[(String, Double)]
    def time(name: String)(body: => Unit): Unit = {
      val (s, err) = timed(body)
      err.foreach(e => throw new IllegalStateException(s"isolated $name: $e"))
      res += name -> s
    }
    time("sources.bronze_parse_s")(files.foreach(f => noop(read(f))))
    val raw = files.map(f => f -> read(f).cache()).toMap
    raw.values.foreach(_.count())
    time("pipeline.silver_normalize_s")(raw.values.foreach(df => noop(SilverNormalize.normalize(df))))
    val silverName = Map("player_stats_by_game" -> "player_stats").withDefault(identity)
    val silver = raw.map { case (f, df) => silverName(f) -> SilverNormalize.normalize(df).cache() }
    silver.values.foreach(_.count())
    val twu = GoldModels.teamWeaknessesUnpivoted(silver("games"), silver("teams")).cache()
    val models: Seq[(String, () => DataFrame)] = Seq(
      "team_weaknesses_unpivoted" -> (() =>
        GoldModels.teamWeaknessesUnpivoted(silver("games"), silver("teams"))),
      "summary_by_season" -> (() => GoldModels.summaryBySeason(silver("games"), silver("teams"))),
      "home_vs_away" -> (() => GoldModels.homeVsAway(silver("games"), silver("teams"))),
      "spurs_player_contributions_unpivoted" -> (() =>
        GoldModels.spursPlayerContributionsUnpivoted(silver("player_stats"))),
      "streaks_and_rivals" -> (() => GoldModels.streaksAndRivals(silver("games"))),
      "players_recommendations" -> (() => GoldModels.playersRecommendations(
        twu, silver("players"), silver("player_stats"), silver("free_agents"),
        silver("injuries"), silver("salaries"))))
    twu.count()
    models.foreach { case (n, df) => time(s"pipeline.gold.${n}_s")(noop(df())) }
    val gold = models.map { case (n, df) => n -> df().cache() }.toMap
    gold.values.foreach(_.count())
    time("pipeline.assertions_isolated_s") {
      val f = Assertions.runAll(gold)
      if (f.nonEmpty) throw new IllegalStateException(f.mkString("; "))
    }
    (raw.values ++ silver.values ++ gold.values ++ Seq(twu)).foreach(_.unpersist())
    res.toSeq
  }

}

/** The registered-query workload: a cold pass (it builds the session
  * registries) and warm passes under the cluster profile, then, with
  * `--gate 1`, the gold analogs under Bench's interactive profile, and
  * last an untimed pass that writes each result for the oracle check.
  * Pass order comes from `--order` (one name per line). */
final case class Queries(spark: SparkSession, o: Main.Opts, out: mutable.LinkedHashMap[String, Any]) {
  import Main._

  private val dir = o("input")
  private val probe = if (o.trace) Some(Probe.install(spark)) else None
  private val names = Files.readAllLines(Paths.get(o("order"))).toArray.map(_.toString)
    .map(_.trim).filter(_.nonEmpty).toSeq
  private val registry = graft.SparkEntry.queries

  private val verifyDir = s"${o("work")}/verify"

  /** One query into the noop sink, as Bench times it: wall, error, engine
    * totals (traced). */
  def once(pass: String, name: String): mutable.LinkedHashMap[String, Any] = {
    val tag = s"$pass/$name"
    def body(): Unit = noop(registry.getOrElse(name, sys.error(s"unknown query $name"))(spark, dir))
    val (sec, err) = if (o.trace) timed(Probe.tagged(spark, tag)(body())) else timed(body())
    val r = mutable.LinkedHashMap[String, Any]("name" -> name, "s" -> sec)
    err.foreach(r("error") = _)
    probe.foreach(p => r("agg") = p.take(tag).toMap)
    r
  }

  def pass(label: String): mutable.LinkedHashMap[String, Any] = {
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    val qs = names.map(n => once(label, n))
    mutable.LinkedHashMap("wall_s" -> secondsSince(t0), "gc_ms" -> (gcMs() - gc0), "queries" -> qs)
  }

  /** Bench's `total_small` profile (shuffle.partitions=1, AQE off): each
    * gold analog warmed once, then timed once. */
  def goldGate(): Seq[mutable.LinkedHashMap[String, Any]] = {
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graft.operators.GoldAnalogs.all.map(_.name).map { n =>
      val warm = once("gate_warm", n)
      val run = once("gate", n)
      run ++ Seq("runs" -> Seq(warm("s"), run("s")),
        "errors" -> Seq(warm, run).flatMap(_.get("error")))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", o("cpus"))
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  /** Untimed, after the timed passes: every result as parquet for the
    * oracle check. A query that fails here leaves no output, and the check
    * counts it as failed. */
  def writeResults(): Unit =
    names.foreach { n =>
      try registry(n)(spark, dir).write.mode("overwrite").parquet(s"$verifyDir/$n")
      catch { case e: Throwable => System.err.println(s"[perfbench] writing $n failed: ${e.getMessage}") }
    }

  def storage(): (Double, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / 1048576.0, infos.map(_.numCachedPartitions.toLong).sum)
  }

  def run(): Unit = {
    Files.createDirectories(Paths.get(verifyDir))
    Files.writeString(Paths.get(s"$verifyDir/oracle_sql.json"),
      Json(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))))
    val deadline = System.nanoTime() + (o.int("seconds") * 1e9).toLong
    out("cold_pass") = pass("cold")
    val (mb, blocks) = storage()
    out("pinned_mb") = mb
    out("pinned_blocks") = blocks
    // warm passes while time is left; a traced run always takes one apart
    val warm = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    while (System.nanoTime() < deadline || (o.trace && warm.isEmpty)) warm += pass("warm")
    out("warm_passes") = warm.toSeq
    out("gold_gate") = if (o("gate") == "1") goldGate() else Seq.empty
    writeResults()
    out("packs") = Seq(
      "Relational" -> graft.operators.Relational.all, "GoldAnalogs" -> graft.operators.GoldAnalogs.all,
      "TrainingData" -> graft.operators.TrainingData.all, "Analytics" -> graft.operators.Analytics.all)
      .flatMap { case (pack, qs) => qs.map(_.name -> pack) }
    out("sched_floor_end_s") = schedFloor(spark)
  }
}

/** Minimal JSON rendering for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] if s.forall(_.isInstanceOf[(_, _)]) && s.nonEmpty =>
      s.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}

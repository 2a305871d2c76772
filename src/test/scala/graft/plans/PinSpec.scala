package graft.plans

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingData
import graft.pipeline.NbaPipeline
import graft.sources.Tables

/** The pin-posture switch (`spark.graft.pin`) must change ONLY the
  * fault-tolerance mechanics, never results: every posture materializes
  * the same rows at the same plan points. Pinned over the three
  * operator families the VERDICT names as localCheckpoint-reliant —
  * g05's shared base (gold chain), a graph fixed-point (PageRank), and
  * BPE training, and over the medallion pipeline's silver and gold —
  * plus `reliable` exercised end-to-end on a temp
  * checkpoint dir, and the invalid-value error path. */
class PinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pin-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[String] = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sf).collect().map(_.toString).sorted.toSeq
  }

  private def withPin[A](mode: String)(body: => A): A = {
    spark.conf.set("spark.graft.pin", mode)
    try body finally spark.conf.set("spark.graft.pin", "local")
  }

  test("eager posture is bit-identical to local on g05, PageRank, BPE train") {
    for (name <- Seq("g05_streaks_one_row", "x152_copurchase_pagerank",
        "x176_bpe_train")) {
      val base = rows(name)
      val eager = withPin("eager")(rows(name))
      assert(eager === base, s"$name differs under spark.graft.pin=eager")
      assert(base.nonEmpty)
    }
    // the medallion pipeline pins silver and every gold model
    val fixtures = getClass.getResource("/nba").getPath
    def gold(pipe: NbaPipeline): Map[String, Seq[String]] =
      pipe.gold.map { case (n, df) => n -> df.collect().map(_.toString).sorted.toSeq }
    val base = gold(NbaPipeline(spark, fixtures))
    val eager = withPin("eager") {
      val pipe = NbaPipeline(spark, fixtures)
      try gold(pipe)
      finally (pipe.silver.values ++ pipe.gold.values).foreach(_.unpersist())
    }
    assert(base.size === 6 && base.values.forall(_.nonEmpty))
    assert(eager === base, "pipeline gold differs under spark.graft.pin=eager")
  }

  test("eager posture is bit-identical on the Learn family (NB, NB-capped, perceptron)") {
    // the round-15 trainers route through Pin.pin (nbModel's nc/cnt/wt/
    // classes, perceptronGate's centered features) — same posture
    // equality as the graph/BPE pins
    for (name <- Seq("x201_naive_bayes_gate", "x204_nb_vocab_cap",
        "x198_perceptron_gate", "x197_linear_probe", "x203_probe_cv")) {
      val base = rows(name)
      val eager = withPin("eager")(rows(name))
      assert(eager === base, s"$name differs under spark.graft.pin=eager")
      assert(base.nonEmpty)
    }
  }

  test("reliable posture checkpoints to the configured dir and preserves results") {
    // x59, not x152: since round 19 x152's only pins are its session
    // REGISTRIES (built once under whatever posture was active first),
    // so re-running it under `reliable` pins nothing new. x59 still
    // pins per call (mutual-edge + CC materializations), so it
    // exercises the reliable path end-to-end on every run.
    val dir = java.nio.file.Files.createTempDirectory("graft-pin").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    val base = rows("x59_semantic_clusters")
    val reliable = withPin("reliable")(rows("x59_semantic_clusters"))
    assert(reliable === base)
    // the reliable pin actually wrote checkpoint state
    def anyFiles(d: java.io.File): Boolean = {
      val cs = Option(d.listFiles).getOrElse(Array.empty)
      cs.exists(f => f.isFile) || cs.exists(anyFiles)
    }
    assert(anyFiles(new java.io.File(dir)), s"no checkpoint files under $dir")
  }

  test("reliable posture is bit-identical on the NB gate") {
    // runs AFTER the dir-assertion test: the SparkContext checkpoint
    // dir is process-global once set, so this test only pins result
    // equality, not file placement
    val base = rows("x201_naive_bayes_gate")
    val reliable = withPin("reliable")(rows("x201_naive_bayes_gate"))
    assert(reliable === base)
  }

  test("unknown posture fails loudly") {
    val df = Tables(spark, sf).documents
    val e = intercept[RuntimeException] {
      withPin("replicated")(Pin.pin(df))
    }
    assert(e.getMessage.contains("spark.graft.pin"))
  }

  // keep the TrainingData import live for the registry the names above
  // resolve through (compile-time guard that the queries still exist)
  private val _ = TrainingData.all
}

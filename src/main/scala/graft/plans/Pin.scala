package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The ONE switch behind every iteration/artifact pin in the library.
  *
  * Iterative operators (connected components, PageRank/HITS/label-prop,
  * BPE training, g05's shared base) and the streaming registries pin
  * intermediate frames so each round/batch reads a materialized result
  * instead of re-deriving an ever-growing lineage; `NbaPipeline` pins
  * its silver and gold layers so each is computed once per refresh.
  * The default mechanism, `localCheckpoint(eager = true)`, is the right call in a
  * single-JVM deployment (this container, any local[] run): it
  * truncates lineage at executor-memory speed with zero external
  * storage. Its honest cost — the scaladoc at the call sites has always
  * said so — is that the checkpoint blocks are NON-REPLICATED: on a
  * multi-executor cluster, losing an executor loses blocks that can no
  * longer be recomputed (lineage is gone) and fails the job.
  *
  * `spark.graft.pin` picks the posture at runtime, no code change:
  *  - `local` (default): `localCheckpoint(true)` — fastest, single-JVM
  *    or preemption-free clusters.
  *  - `eager`: `persist(MEMORY_AND_DISK)` + a materializing count —
  *    same read-back economics, but lineage is KEPT, so a lost
  *    executor's blocks recompute instead of failing the job. The
  *    cluster-safe default for long iterative jobs on preemptible
  *    nodes. (Cost: the lineage chain survives, so the plan object
  *    grows with iterations — fine for the bounded-iteration operators
  *    here, all of which cap rounds explicitly.)
  *  - `reliable`: `checkpoint(eager = true)` to
  *    `spark.graft.checkpointDir` (HDFS/S3) — survives ANY executor
  *    loss including cascading failures; pays a distributed-FS write
  *    per pin. The posture for 100 TB multi-hour jobs.
  *
  * All three materialize the same rows at the same plan point, so
  * results are bit-identical across postures (PinSpec pins g05, a
  * graph fixed-point, BPE training and the fixture pipeline's gold
  * under `local` vs `eager`, and `reliable` on a temp dir).
  */
object Pin {

  /** [[pin]] with the input's output partitioning/ordering carried into
    * the materialized frame's scan node. Under AQE, `localCheckpoint`
    * records `UnknownPartitioning` (the adaptive plan's partitioning is
    * undecided until execution), so a registry built as
    * `repartition(k).sortWithinPartitions(k).pin` loses the layout it
    * just paid for and every same-key consumer re-exchanges the frame —
    * measured on x152's serving registry: 3 full edge-frame Exchanges
    * per PageRank invocation (plans/r20/x152_before.txt,
    * `UnknownPartitioning(0)`), where the identical pin materialized
    * with AQE off plans ZERO (BenchLab LAB_MODE=pinpart). Planning the
    * checkpoint classically makes the LogicalRDD carry the real
    * HashPartitioning + SortOrder, so keyed joins/aggregations on the
    * pinned key skip their Exchange/Sort outright (guide §2.4). AQE is
    * only off while the pin itself materializes — consumers still plan
    * adaptively. Single-threaded registry builds only (session conf). */
  def pinKeepPartitioning(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val was = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try pin(df)
    finally conf.set("spark.sql.adaptive.enabled", was)
  }

  def pin(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.pin", "local") match {
      case "local" => df.localCheckpoint(true)
      case "eager" =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      case "reliable" =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(df.sparkSession.conf.get("spark.graft.checkpointDir"))
        df.checkpoint(eager = true)
      case other =>
        sys.error(s"spark.graft.pin must be local|eager|reliable, got '$other'")
    }
}

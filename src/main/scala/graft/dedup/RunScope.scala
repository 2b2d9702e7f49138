package graft.dedup

import graft.core.DedupConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** The session policy around one dedup run, shared by the four drivers
  * (DedupPipeline.run, CheckpointedDedup.run, AudioDedup.run,
  * EmbedDedup.clusters). It owns three decisions:
  *
  * Shuffle clamp: a run sizes `spark.sql.shuffle.partitions` to its INPUT,
  * max(2, min(session, rows / 2000 + 1)), not to the session. At 5k
  * documents a 32-partition session turns the ~40-job pipeline into
  * thousands of near-empty tasks whose fixed scheduling/deserialize cost
  * dwarfs the work (measured: 5k docs took 71 task-CPU seconds, almost all
  * overhead; a checkpointed run at n=1000 spent ~80% of its task CPU on
  * per-task cost such as parquet reader init and task deser, not work).
  * At production row counts the clamp is a no-op and the session's own
  * sizing wins. Counting parquet input is footer-metadata fast, and results
  * are partitioning-independent (checksum- and oracle-gated), so the clamp
  * only changes wall time. Only actions run inside the scope plan under the
  * clamp, so DedupPipeline and AudioDedup return an eager checkpoint.
  *
  * Session scoping: a run overrides session-global conf keys for its
  * duration and puts each back to its previous value (or unsets it) on
  * every exit — it must OWN the SparkSession while running; callers with
  * concurrent queries on the same session should hand it a
  * `spark.newSession()` clone.
  *
  * Cache lifecycle: on return, kill or throw, every RDD persisted inside
  * the scope (persists, localCheckpoints, the CC rounds' pins) is
  * unpersisted. Only the RDDs behind the returned table's LogicalRDD leaves
  * stay pinned — the caller frees them by letting the DataFrame go after
  * consumption (`out.unpersist()` equivalent: they are the only
  * run-created entries left in `sc.getPersistentRDDs`). */
object RunScope {

  private val ShufflePartitions = "spark.sql.shuffle.partitions"

  /** Every broadcast a dedup plan WANTS is an explicit broadcast() hint
    * (hints ignore this threshold); what the auto threshold adds is
    * unwanted static-planner broadcasts of per-round or per-cluster tables
    * (CC label tables, assignments reps) that are rebuilt each use. A label
    * table rebuilt every round pays two serial broadcast builds per round
    * (measured at 160k clips: 8 extra jobs per run, each re-reading ~122 MB
    * of lineage, parUse 0.76→0.86 once removed); at production scale it is
    * O(vertices) and could never be broadcast anyway — an OOM. */
  private val NoAutoBroadcast = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Static join planning: AQE off and no auto-broadcast. Once every join
    * strategy is decided at plan time (broadcast-pinned lookups, the CC
    * loop's shuffle joins) and the exchange width is the fixed clamp, AQE's
    * per-exchange materialize-and-replan buys nothing and costs a serial
    * driver round-trip per query stage: measured A/B at 8 cores, same
    * corpus, identical checksums, 41 jobs/75 stages with AQE vs 20/63
    * without, same summed task run-time, ~5% less wall; across ~5 CC rounds
    * x ~5 exchanges of few-MB label tables it is ~25 round-trips of pure
    * scheduling latency, where static planning runs each round as ONE job. */
  val StaticJoins: Map[String, String] = NoAutoBroadcast + ("spark.sql.adaptive.enabled" -> "false")

  private val scoped = new DynamicVariable[ArrayBuffer[DataFrame]](null)

  /** `df.persist(MEMORY_AND_DISK)`, released when the enclosing scope exits.
    * A Dataset cache is an entry in the session's CacheManager as well as an
    * RDD: unpersisting the RDD alone leaves the entry, and a later run whose
    * plan matches it is served the emptied cache and never caches again.
    * Outside a scope this is a plain persist. */
  def persist(df: DataFrame): DataFrame = {
    Option(scoped.value).foreach(_ += df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Runs `body` with each key of `conf` set, then restores each key. */
  def withConf[T](spark: SparkSession, conf: Map[String, String])(body: => T): T = {
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** One run over `input`: counts it, runs `body(rows, partitions)` under
    * the shuffle clamp, and releases the run's caches on every exit. */
  def apply(input: DataFrame)(body: (Long, Int) => Option[DataFrame]): Option[DataFrame] = {
    val spark = input.sparkSession
    val sc = spark.sparkContext
    val rows = input.count()
    val p = math.max(2L, math.min(spark.conf.get(ShufflePartitions).toLong, rows / 2000L + 1L)).toInt
    val before = sc.getPersistentRDDs.keySet
    val persisted = ArrayBuffer.empty[DataFrame]
    var keep = Set.empty[Int]
    try {
      val out = scoped.withValue(persisted) {
        withConf(spark, Map(ShufflePartitions -> p.toString))(body(rows, p))
      }
      keep = out.fold(keep)(PlanShim.checkpointRddIds)
      out
    } finally {
      // newest first: uncaching a plan re-plans the unloaded caches built on it
      persisted.reverseIterator.foreach(_.unpersist(blocking = false))
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id) && !keep(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  /** Row ceiling for broadcasting the embedding table of an embedding-lane
    * run. At 2k vectors (sf0.1) the broadcast plan ran d10 in a median
    * 3.28 s against 5.00 s sort-merged (10 alternating pairs, 4 cores, same
    * answer); at 1M the auto-broadcast build asked for 4 GB of an 8g
    * driver heap and the run failed. */
  private val EmbedBroadcastMaxRows = 100000L

  /** An embedding-lane run (EmbedDedup.clusters): [[apply]] under
    * [[NoAutoBroadcast]]. `body` gets the effective config: broadcastLookups
    * stays on only up to [[EmbedBroadcastMaxRows]] vectors, where the lane
    * broadcasts its embedding table by hint; above it the joins sort-merge. */
  def embedLane(vectors: DataFrame, cfg: DedupConfig)(
      body: DedupConfig => Option[DataFrame]): Option[DataFrame] =
    apply(vectors) { (rows, _) =>
      val eff =
        if (cfg.broadcastLookups && rows > EmbedBroadcastMaxRows) cfg.copy(broadcastLookups = false)
        else cfg
      withConf(vectors.sparkSession, NoAutoBroadcast)(body(eff))
    }

  /** A text-lane run (DedupPipeline.run, CheckpointedDedup.run): [[apply]]
    * plus the join policy. Broadcast-pinned verification lookups are only
    * safe while one executor can hold the corpus' slim+norm tables, so above
    * `broadcastLookupMaxRows` the pin falls back to AQE-chosen joins — the
    * default must degrade gracefully to sort-merge, not OOM the build side.
    * While pinned the run plans under [[StaticJoins]]; above the ceiling
    * AQE stays ON, where its runtime skew-join splitting is worth the
    * latency, and only auto-broadcast is off. `body` gets the effective
    * config and the clamped partition count. */
  def textLane(clips: DataFrame, cfg: DedupConfig)(
      body: (DedupConfig, Int) => Option[DataFrame]): Option[DataFrame] =
    apply(clips) { (rows, p) =>
      val eff =
        if (cfg.broadcastLookups && rows > cfg.broadcastLookupMaxRows) cfg.copy(broadcastLookups = false)
        else cfg
      withConf(clips.sparkSession, if (eff.broadcastLookups) StaticJoins else NoAutoBroadcast)(body(eff, p))
    }
}

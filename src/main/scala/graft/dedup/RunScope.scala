package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/** The session policy around one dedup run: [[apply]] is the one scope
  * entry of the four drivers (DedupPipeline.run, CheckpointedDedup.run,
  * AudioDedup.run, EmbedDedup.clusters). It owns four decisions:
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
  * Join policy, one rule for every lane: a run is PINNED when its input
  * has at most the lane's `maxBroadcastRows` rows and the caller's session
  * allows broadcasts at all (`spark.sql.autoBroadcastJoinThreshold` >= 0,
  * read before the scope turns it off). A pinned run plans under
  * [[StaticJoins]] and [[lookup]] hints the lane's verify lookups as the
  * broadcast build side; an unpinned run plans under [[NoAutoBroadcast]]
  * with AQE as the session has it, and its lookups sort-merge. The ceiling
  * is a row count, not a byte budget: the 160k-clip text lookups (~94 MB
  * of transcripts) must broadcast while 1M embeddings (~256 MB, estimated
  * under a 256m threshold) must not — that broadcast asked for 4 GB of an
  * 8g driver heap and failed — and no one byte figure separates the two.
  * `--conf spark.sql.autoBroadcastJoinThreshold=-1` unpins every lane.
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
  private val AutoBroadcast = "spark.sql.autoBroadcastJoinThreshold"

  /** Every broadcast a dedup plan WANTS is an explicit broadcast() hint
    * (hints ignore this threshold); what the auto threshold adds is
    * unwanted static-planner broadcasts of per-round or per-cluster tables
    * (CC label tables, assignments reps) that are rebuilt each use. A label
    * table rebuilt every round pays two serial broadcast builds per round
    * (measured at 160k clips: 8 extra jobs per run, each re-reading ~122 MB
    * of lineage, parUse 0.76→0.86 once removed); at production scale it is
    * O(vertices) and could never be broadcast anyway — an OOM. */
  private val NoAutoBroadcast = Map(AutoBroadcast -> "-1")

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

  /** The enclosing run's state: what it persisted, and its join decision. */
  private final class Scope(val pinned: Boolean) {
    val persisted = ArrayBuffer.empty[DataFrame]
  }

  private val scoped = new DynamicVariable[Scope](null)

  /** `df.persist(MEMORY_AND_DISK)`, released when the enclosing scope exits.
    * A Dataset cache is an entry in the session's CacheManager as well as an
    * RDD: unpersisting the RDD alone leaves the entry, and a later run whose
    * plan matches it is served the emptied cache and never caches again.
    * Outside a scope this is a plain persist. */
  def persist(df: DataFrame): DataFrame = {
    Option(scoped.value).foreach(_.persisted += df)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** A verify lookup table: the broadcast build side in a pinned run, a
    * plain join side otherwise. Outside a scope this is `df`. */
  def lookup(df: DataFrame): DataFrame =
    if (Option(scoped.value).exists(_.pinned)) broadcast(df) else df

  /** The join rule: broadcast the lookups of a `rows`-row run iff the
    * session allows broadcasts (`autoBroadcastBytes` >= 0) and the run is
    * within the lane's ceiling. */
  def pinned(rows: Long, maxBroadcastRows: Long, autoBroadcastBytes: Long): Boolean =
    autoBroadcastBytes >= 0 && rows <= maxBroadcastRows

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

  /** One run over `input`: counts it, decides the join policy against the
    * lane's `maxBroadcastRows`, runs `body(partitions)` under the shuffle
    * clamp and that policy, and releases the run's caches on every exit. */
  def apply(input: DataFrame, maxBroadcastRows: Long)(body: Int => Option[DataFrame]): Option[DataFrame] = {
    val spark = input.sparkSession
    val sc = spark.sparkContext
    val rows = input.count()
    val p = math.max(2L, math.min(spark.conf.get(ShufflePartitions).toLong, rows / 2000L + 1L)).toInt
    val scope = new Scope(pinned(rows, maxBroadcastRows, spark.sessionState.conf.autoBroadcastJoinThreshold))
    val conf = (if (scope.pinned) StaticJoins else NoAutoBroadcast) + (ShufflePartitions -> p.toString)
    val before = sc.getPersistentRDDs.keySet
    var keep = Set.empty[Int]
    try {
      val out = scoped.withValue(scope)(withConf(spark, conf)(body(p)))
      keep = out.fold(keep)(PlanShim.checkpointRddIds)
      out
    } finally {
      // newest first: uncaching a plan re-plans the unloaded caches built on it
      scope.persisted.reverseIterator.foreach(_.unpersist(blocking = false))
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before(id) && !keep(id)) rdd.unpersist(blocking = false)
      }
    }
  }
}

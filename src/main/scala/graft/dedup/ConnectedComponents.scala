package graft.dedup

import graft.core.DedupConfig
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.sql.types.DecimalType
import java.math.BigInteger

/** Iterative connected components (min-label propagation with root
  * hooking and pointer jumping) — SURVEY.md §2.2 P9. One round, two
  * executors: [[step]] runs it as DataFrame self-joins, and small graphs
  * run the same round over arrays on the driver (see [[run]]).
  *
  * Discipline grafted from the reference's merge-until-fixpoint contract
  * (`FrequentItems.java:292-308`): per-round state is a mergeable (id →
  * min-label) table; rounds are associative label-min joins; convergence is
  * detected exactly by [[labelSum]]. `localCheckpoint` truncates lineage
  * each round (iterative joins otherwise stack exponentially deep plans).
  *
  * A round is hook-then-shortcut (Shiloach–Vishkin, J. Algorithms 1982;
  * Kiveris et al., SoCC 2014): every vertex takes the minimum label of its
  * neighbourhood, every vertex's OLD label (the root of its label tree) is
  * hooked onto that same minimum, and two pointer jumps then shortcut the
  * label trees. Without the hook the jumps find little to shortcut and the
  * round count grows with a component's diameter. Simulated on paths of
  * Murmur3-hashed ids (30 paths each, median rounds up to and including the
  * first unchanged one): 5 / 6 / 8 rounds at 32 / 256 / 1024 vertices, where
  * propagate-and-jump alone needs 14.5 / 86 / 311. On the shallow default
  * mix (160k CorpusGen clips, 685k edges) [[run]] takes 4 rounds, 6
  * without the hook, at unchanged wall time: the hook's extra O(V) shuffle
  * per round is paid back by the saved rounds.
  *
  * Two invariants keep the [[labelSum]] convergence test exact: labels are
  * vertex ids with `label(v) ≤ v`, and a vertex's label never increases
  * from one round to the next.
  *
  * Scale notes (100 TB story):
  *  - vertices are derived from edges only — singleton clips never enter the
  *    iteration (at web scale the vast majority of rows);
  *  - per-vertex degree is bounded by construction upstream
  *    ([[CandidatePairs]] window cap), so no hub vertex dominates a join
  *    key — the usual CC killer — and AQE handles residual imbalance;
  *  - the edge table is joined once per round; the hook and the jumps are
  *    joins of O(vertices) (id, label) tables.
  */
object ConnectedComponents {

  /** Symmetrized edge list with self-loops — each vertex's own label rides
    * the same propagation join (no per-iteration union). */
  def symmetrize(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val vertices = edges.select($"a".as("src")).union(edges.select($"b".as("src")))
      .distinct()
    edges.select($"a".as("src"), $"b".as("dst"))
      .union(edges.select($"b".as("src"), $"a".as("dst")))
      .union(vertices.select($"src", $"src".as("dst")))
  }

  /** Symmetrized edges repartitioned AND sorted by the propagate-join key,
    * then eagerly checkpointed: localCheckpoint preserves
    * outputPartitioning/outputOrdering in the LogicalRDD it leaves behind,
    * so every per-round propagate join streams sym in place — no sym
    * exchange, no sym sort, in any round. One shuffle buys zero per round. */
  def checkpointedSym(edges: DataFrame, p: Int): DataFrame =
    symmetrize(edges).repartition(p, col("src"))
      .sortWithinPartitions(col("src")).localCheckpoint(true)

  /** Initial labels: every vertex labels itself. */
  def initLabels(sym: DataFrame): DataFrame = {
    import sym.sparkSession.implicits._
    sym.select($"src".as("id")).distinct().withColumn("label", $"id")
  }

  /** One pointer jump: label := label's label (labels only ever decrease,
    * so `least` + left join is a safe contraction even when the label is
    * not itself a vertex of the table). */
  private def jump(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    val l2 = labels.select($"id".as("lid"), $"label".as("llabel"))
    labels.as("x")
      .join(l2.as("y"), col("x.label") === col("y.lid"), "left")
      .select(col("x.id").as("id"),
        least(col("x.label"), coalesce(col("y.llabel"), col("x.label"))).as("label"))
  }

  /** Neighbor-min propagation — the round's ONLY edge-table join, kept lazy
    * and separate so its plan shape is assertable (PlanSpec: sym streams in
    * place, never re-exchanged/re-sorted). Each vertex also reports its
    * current label as `root`: the message of its own self-loop carries it,
    * so [[hook]] needs no second join. */
  def propagate(sym: DataFrame, labels: DataFrame): DataFrame = {
    import sym.sparkSession.implicits._
    val msgs = sym.join(labels, sym("src") === labels("id"))
      .select(sym("dst").as("id"), labels("label"), (sym("src") === sym("dst")).as("self"))
    msgs.groupBy($"id").agg(min($"label").as("label"), min(when($"self", $"label")).as("root"))
  }

  /** Neighbor-min propagation plus root hooking: each vertex's old label
    * (its root) also takes the vertex's new minimum, so a whole label tree
    * moves onto the smaller label in one round instead of one hop per round.
    * Every propagate row (v, min, root) emits (v, min) and (root, min)
    * through one explode, so the propagate result, and with it sym, is read
    * once (Spark does not reuse an exchange above a partitioned checkpoint
    * leaf, so a second reference would re-run the edge join). Labels are
    * vertex ids, so hooks add no vertex; they only lower a root to the
    * minimum of a neighbourhood containing a vertex it labels, so
    * `label(v) ≤ v` and monotonicity both hold. */
  def hook(sym: DataFrame, labels: DataFrame): DataFrame =
    propagate(sym, labels)
      .select(explode(array(
        struct(col("id"), col("label")),
        struct(col("root").as("id"), col("label")))).as("h"))
      .groupBy(col("h.id").as("id")).agg(min(col("h.label")).as("label"))

  /** One round: propagate and hook, then two pointer jumps
    * (label := label(label(label))), checkpointed for carrying into the next
    * round. With one jump the simulated paths above need 5 / 8 / 10 rounds;
    * each jump is a join of the small label table, each saved round a join
    * of the edge table.
    *
    * The hooked table is EAGERLY checkpointed before the jumps: jump()
    * references its input on both sides of a self-join and the two jumps
    * nest, so a lazy input is re-derived by every concurrently scheduled
    * join branch racing on the uncached partitions — measured 25
    * full-edge-table scans per 160k-clip run where the algorithm needs 5.
    * One small eager job pins the O(V) (id, label) table so the round scans
    * the edge table exactly once and the jumps probe a few-MB cache. At
    * 10^12-vertex scale the duplicated propagate joins would re-read TBs of
    * edges per round — eager is the only shape that survives.
    *
    * The jumped result is checkpointed LAZILY: the one action that first
    * reads it (the next round's propagate, or [[labelSum]]) computes it
    * once, and the lazy localCheckpoint caches and truncates its lineage in
    * that same job; later readers (CheckpointedDedup's commit) read the
    * cache. Its
    * checkpoint's copied plan statistics are dropped: a loop that feeds
    * round k's checkpoint into round k+1 otherwise multiplies the carried
    * size estimate through every join, so it gains digits geometrically per
    * round and Catalyst's BigInteger arithmetic on it comes to dominate the
    * driver (see PlanShim.withoutStats). */
  def step(sym: DataFrame, labels: DataFrame): DataFrame =
    PlanShim.withoutStats(
      jump(jump(hook(sym, labels).localCheckpoint(true))).localCheckpoint(false))

  /** Exact sum of labels as a decimal (no 64-bit wrap at 10^12 vertices).
    * Per-vertex labels are monotone non-increasing under every round (see
    * [[hook]]) and the vertex set is fixed, so the sum is strictly
    * decreasing until the fixpoint: sum unchanged ⟺ no label changed. One
    * cheap scan-agg job on checkpointed partitions instead of a join+count
    * shuffle per round. */
  def labelSum(labels: DataFrame): java.math.BigDecimal = {
    // coalesce: a global sum over ZERO rows is NULL in Spark — an empty
    // edge set (corpus with no duplicates) must converge, not NPE
    val d = labels.agg(sum(col("label").cast(DecimalType(38, 0))))
      .collect()(0).getDecimal(0)
    if (d == null) java.math.BigDecimal.ZERO else d
  }

  /** Where [[run]] starts instead of at every vertex labelling itself:
    * carried labels, the index of the next round, and whether the carried
    * labels are already the fixpoint. */
  final case class Start(labels: DataFrame, round: Int, converged: Boolean)

  /** `(labels, round, converged, labelSum) => continue`, after each round. */
  type OnCheck = (=> DataFrame, Int, Boolean, java.math.BigDecimal) => Boolean

  /** Rounds before [[run]] gives up. */
  private val MaxRounds = 50

  /** The one CC entry: rounds until the exact label sum stops changing, by
    * the executor the graph's size chooses ("To Partition, or Not to
    * Partition", SIGMOD'21): at or below `cfg.ccLocalMaxEdges` edges the
    * driver collects them once and runs the rounds over arrays
    * ([[onDriver]]); above it each round is a [[step]] of Spark jobs
    * ([[onSpark]]). Both give the same (id, label) table every round, so a
    * run killed on one resumes on the other.
    *
    * Scale contract of the gate: 10^5 edges (1.6 MB) collect trivially, and
    * below it ~3 scheduler round-trips of near-empty stages per round cost
    * more than the whole contraction. The Spark executor stays the
    * production path (the 160k-clip bench graph has ~5x10^5 edges). The
    * gate counts `edges` (persisted by the callers) unless given `edgeRows`.
    *
    * After each round `onCheck(labels, round, converged, labelSum)` gets the
    * labels by name (the driver executor builds its table only if read);
    * false stops the loop. CheckpointedDedup commits each round through it.
    *
    * @param edges DataFrame with long columns (a, b) — undirected unique pairs.
    * @param start carried labels to resume from (see [[Start]]); an already
    *              converged start is returned as is.
    * @return DataFrame (id: Long, label: Long) — label = min id in component.
    */
  def run(edges: DataFrame, cfg: DedupConfig = DedupConfig.default,
          start: Option[Start] = None, edgeRows: Option[Long] = None,
          onCheck: OnCheck = (_, _, _, _) => true): DataFrame =
    start match {
      case Some(s) if s.converged => s.labels
      case _ if edgeRows.getOrElse(edges.count()) <= cfg.ccLocalMaxEdges =>
        onDriver(edges, start, onCheck)
      case _ => onSpark(edges, start, onCheck)
    }

  /** The loop both executors share, over their own label state `L`. ONE
    * round per check: two per check save the Spark executor's small
    * labelSum job every other round but confirm the fixpoint one or two
    * rounds later (chains_ckpt, kill after round 0 then resume, 4 cores,
    * 8 seeds: 6 rounds instead of 5 and 7.7% more op CPU). */
  private def loop[L](labels0: L, round0: Int, round: L => L,
                      sum: L => java.math.BigDecimal, table: L => DataFrame,
                      onCheck: OnCheck): L = {
    var labels = labels0
    var r = round0
    var prevSum = sum(labels)
    var converged = false
    var go = true
    while (go && !converged && r < MaxRounds) {
      val next = round(labels)
      val s = sum(next)
      converged = s.compareTo(prevSum) == 0
      go = onCheck(table(next), r, converged, s)
      labels = next; prevSum = s; r += 1
    }
    labels
  }

  /** Each round a [[step]]; the carried start is checkpointed first. */
  private def onSpark(edges: DataFrame, start: Option[Start], onCheck: OnCheck): DataFrame =
    // tiny, regular per-round plans: see RunScope.StaticJoins
    RunScope.withConf(edges.sparkSession, RunScope.StaticJoins) {
      // previously the 25 MB sym table was re-exchanged ~4x per round (the
      // 3-way union in symmetrize has no useful partitioning); now only the
      // few-MB label table moves per round — see [[checkpointedSym]]
      val p = math.max(2, edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      val sym = checkpointedSym(edges, p)
      val labels0 = start.fold(initLabels(sym))(_.labels).localCheckpoint(true)
      loop[DataFrame](labels0, start.fold(0)(_.round), step(sym, _), labelSum, identity, onCheck)
    }

  /** [[step]]'s round over arrays on the driver, for graphs the gate of
    * [[run]] collects. Vertices are indexed in id order, so `label(v) ≤ v`
    * and every min carry over from ids to indices. Per round, as [[step]]:
    * each vertex takes the min label over its edges and itself, each old
    * label (root) the min of the vertices it labels, then two jumps
    * `label := min(label, label(label))`, each reading the table before it. */
  private def onDriver(edges: DataFrame, start: Option[Start], onCheck: OnCheck): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val pairs = edges.select(col("a"), col("b")).as[(Long, Long)].collect()
    val ids = (pairs.map(_._1) ++ pairs.map(_._2)).sorted.distinct
    val n = ids.length
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val (a, b) = pairs.map(e => (at(e._1), at(e._2))).unzip
    def round(lab: Array[Int]): Array[Int] = {
      val m = lab.clone()
      for (i <- a.indices) {
        m(a(i)) = math.min(m(a(i)), lab(b(i))); m(b(i)) = math.min(m(b(i)), lab(a(i)))
      }
      val hooked = m.clone()
      for (v <- 0 until n) hooked(lab(v)) = math.min(hooked(lab(v)), m(v))
      def jump(l: Array[Int]) = Array.tabulate(n)(v => math.min(l(v), l(l(v))))
      jump(jump(hooked))
    }
    def sum(lab: Array[Int]) = new java.math.BigDecimal(
      lab.foldLeft(BigInteger.ZERO)((s, l) => s.add(BigInteger.valueOf(ids(l)))))
    def table(lab: Array[Int]): DataFrame =
      spark.createDataset(Array.tabulate(n)(v => (ids(v), ids(lab(v)))).toSeq).toDF("id", "label")
    val labels0 = Array.tabulate(n)(identity)
    start.foreach(_.labels.select(col("id"), col("label")).as[(Long, Long)].collect()
      .foreach { case (v, l) => labels0(at(v)) = at(l) })
    table(loop(labels0, start.fold(0)(_.round), round, sum, table, onCheck))
  }
}

package graftbench

import graft.core.{DedupConfig, Murmur3, Rng}
import graft.corpus.{Clip, CorpusGen}
import graft.dedup.BruteForceOracle
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input is a pure function of the seed and
  * the size arguments, written to parquet before any timed window opens. */
object Inputs {

  /** CorpusGen's default mix (~90% singleton clusters, zipf-sized dup
    * clusters, two forced giant clusters): the same clip ids and transcripts
    * as `CorpusGen.clips(n, seed)`, without rendering audio. The dedup
    * pipeline reads only clip_id and transcript, and skipping the render
    * keeps input generation a small part of set-up. */
  def textClips(spark: SparkSession, n: Int, seed: Long): Dataset[Clip] = {
    import spark.implicits._
    val pl = spark.sparkContext.broadcast(CorpusGen.plan(n, seed))
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).map { i =>
      val s = CorpusGen.clipSpec(seed, i, pl.value)
      Clip(CorpusGen.clipId(i), Array.emptyByteArray, s.params.srHz, s.params.durMs, s.codec,
        s.transcript)
    }
  }

  /** Near-duplicate edit chains. Row i of a chain is row i-1 with ~8% of its
    * tokens substituted, so adjacent rows pass the Jaccard clause (J ~ 0.8)
    * while rows a few steps apart do not: each chain is one duplicate
    * component with a large diameter. Words come from CorpusGen's
    * vocabulary.
    *
    * The number of CC rounds a path needs depends on how its (hashed) ids
    * happen to be ordered along it. So each chain is cut to the longest
    * prefix of at most `maxLength` rows whose component needs exactly
    * `rounds` rounds of ConnectedComponents' loop (else the longest that
    * needs fewer), simulated here on the chain's exact duplicate edges, and
    * chains beyond `chains` are added until one needs exactly `rounds`: the
    * CC depth of the corpus is set by `rounds`, not left to the seed.
    * Returns the rows, the deepest chain's simulated rounds, and the exact
    * duplicate components of the chain rows (clip ids, every chain row in
    * exactly one). */
  def chainClips(chains: Int, maxLength: Int, rounds: Int, seed: Long): ChainSet = {
    def chain(c: Int): (Seq[Clip], Int, Iterable[Seq[String]]) = {
      val rng = Rng(seed, 9100L, c.toLong)
      val vocab = CorpusGen.Vocab
      val toks = Array.fill(90 + rng.nextInt(60))(vocab(rng.nextInt(vocab.length)))
      val subs = math.max(1, math.round(toks.length * 0.08).toInt)
      val rows = (0 until maxLength).map { i =>
        if (i > 0) {
          var s = 0
          while (s < subs) { toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length)); s += 1 }
        }
        Clip(f"chain-$c%04d-$i%06d", Array.emptyByteArray, 8000, 0, "pcm_s16le",
          toks.mkString(" "))
      }
      val (len, r, labels) = longestPrefix(rows, rounds)
      val kept = rows.take(len)
      // rows without a duplicate edge are components of their own
      val comps = kept.groupBy(c => labels.getOrElse(vertexId(c.clip_id), vertexId(c.clip_id)))
        .values.map(_.map(_.clip_id))
      (kept, r, comps)
    }
    // more chains until one of them needs exactly `rounds` rounds
    val cut = ArrayBuffer[(Seq[Clip], Int, Iterable[Seq[String]])]()
    var c = 0
    while ((cut.size < chains || !cut.exists(_._2 == rounds)) && c < 20 * chains) {
      cut += chain(c)
      c += 1
    }
    ChainSet(cut.flatMap(_._1).toSeq, cut.map(_._2).max, cut.flatMap(_._3).toSeq)
  }

  final case class ChainSet(rows: Seq[Clip], rounds: Int, components: Seq[Seq[String]])

  private val Cfg = DedupConfig.default

  /** The pipeline's vertex id of a clip (graft_hash_id). */
  private def vertexId(clipId: String): Long = Murmur3.hashString(clipId, Cfg.seed + 6000L)

  /** Longest prefix of `rows` whose duplicate graph needs exactly `rounds`
    * CC rounds, else the longest needing fewer: (length, rounds, converged
    * vertex labels of that prefix). */
  private def longestPrefix(rows: Seq[Clip], rounds: Int): (Int, Int, Map[Long, Long]) = {
    val ids = rows.map(r => vertexId(r.clip_id))
    // every duplicate pair of the whole chain, by the oracle's predicate; a
    // prefix of length k keeps the pairs with both ends below k
    val pairs = BruteForceOracle.pairs(rows.map(_.transcript).toArray, Cfg)
    var exact: Option[(Int, Int, Map[Long, Long])] = None
    var below = (1, 0, Map.empty[Long, Long])
    for (k <- 2 to rows.length) {
      val (r, labels) = ccRounds(pairs.collect { case (i, j) if j < k => (ids(i), ids(j)) })
      if (r == rounds) exact = Some((k, r, labels))
      else if (r < rounds) below = (k, r, labels)
    }
    exact.getOrElse(below)
  }

  /** Rounds of ConnectedComponents' min-label loop on `edges`, and the
    * labels it converges to (the least vertex id of each component, for
    * every vertex with an edge): each round is one neighbour-min
    * propagation and two pointer jumps (ConnectedComponents.step), and the
    * loop stops at the first round that leaves the label sum unchanged,
    * which it counts. */
  def ccRounds(edges: Seq[(Long, Long)]): (Int, Map[Long, Long]) = {
    if (edges.isEmpty) return (0, Map.empty)
    val adj = scala.collection.mutable.Map[Long, List[Long]]()
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, List(a))
      adj(b) = a :: adj.getOrElse(b, List(b))
    }
    def total(m: collection.Map[Long, Long]): BigInt = m.values.foldLeft(BigInt(0))(_ + _)
    var labels: collection.Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    var prev = total(labels)
    var n = 0
    while (true) {
      var next: collection.Map[Long, Long] = adj.map { case (v, ns) => v -> ns.map(labels).min }
      for (_ <- 0 until 2) {
        val cur = next
        next = cur.map { case (v, l) => v -> math.min(l, cur.getOrElse(l, l)) }
      }
      n += 1
      val s = total(next)
      if (s == prev) return (n, next.toMap)
      prev = s
      labels = next
    }
    (n, labels.toMap)
  }

  /** Default mix plus edit chains, written as one parquet corpus. */
  def writeChainCorpus(spark: SparkSession, n: Int, chains: Int, maxLength: Int, rounds: Int,
                       seed: Long, dir: Path): (DataFrame, Long, ChainSet) = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    val set = chainClips(chains, maxLength, rounds, seed)
    val chained = spark.createDataset(set.rows).repartition(parts)
    textClips(spark, n, seed).union(chained)
      .write.mode("overwrite").parquet(dir.toString)
    (spark.read.parquet(dir.toString), n.toLong + set.rows.size, set)
  }

  /** A seeded sample of about `target` rows of `clips`, stable for a seed. */
  def slice(clips: DataFrame, rows: Long, target: Int, seed: Long): DataFrame = {
    val stride = math.max(1L, rows / target)
    clips.where(pmod(xxhash64(col("clip_id"), lit(seed)), lit(stride)) === 0)
  }

  /** Brute-force oracle cluster root per clip_id of `sliceDf`, computed once
    * per (seed, slice) and cached under `cacheDir`. */
  def oracleClusters(sliceDf: DataFrame, cacheFile: Path): Map[String, Int] = {
    if (Files.exists(cacheFile)) {
      Files.readAllLines(cacheFile).toArray(Array.empty[String]).map { l =>
        val Array(id, root) = l.split('\t'); id -> root.toInt
      }.toMap
    } else {
      val rows = sliceDf.select(col("clip_id"), col("transcript")).collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
      val roots = BruteForceOracle.clusters(rows.map(_._2), DedupConfig.default)
      Files.createDirectories(cacheFile.getParent)
      val tmp = cacheFile.resolveSibling(cacheFile.getFileName.toString + ".tmp")
      Files.write(tmp, rows.indices.map(i => s"${rows(i)._1}\t${roots(i)}")
        .mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, cacheFile, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      rows.indices.map(i => rows(i)._1 -> roots(i)).toMap
    }
  }

  /** Dup-pair recall of `got` (clip_id -> cluster) against the oracle. */
  def pairRecall(oracle: Map[String, Int], got: Map[String, Long]): Double = {
    val ids = oracle.keys.toArray.sorted
    require(ids.forall(got.contains), "assignments miss oracle clip ids")
    // dense relabel of the pipeline's clusters so BruteForceOracle.pairRecall
    // compares two Int labelings
    val dense = ids.map(got).distinct.zipWithIndex.toMap
    BruteForceOracle.pairRecall(ids.map(oracle), ids.map(i => dense(got(i))))
  }

  /** Whether `assign` puts the chain rows in exactly the generator's
    * duplicate components: each component in one cluster, no two in the
    * same one. A CC that stops early leaves a deep chain split. (A chain is
    * an independent random token sequence: it shares no duplicate pair with
    * another chain or the default mix, so its components are whole.) */
  def chainPartitionHolds(assign: DataFrame, components: Seq[Seq[String]]): Boolean = {
    val got = assign.where(col("clip_id").startsWith("chain-")).select(col("clip_id"), col("cluster"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clusterOf = components.map(c => c.map(got.get).distinct)
    got.size == components.map(_.size).sum && clusterOf.forall(_.size == 1) &&
      clusterOf.flatten.distinct.size == components.size
  }

  def clusterMap(assign: DataFrame): Map[String, Long] =
    assign.select(col("clip_id"), col("cluster")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Digest of a corpus (rows and transcripts): the key under which results
    * that must repeat for the same inputs are recorded. */
  def digest(clips: DataFrame): String = {
    val r = clips.agg(count(lit(1)), bit_xor(xxhash64(col("clip_id"), col("transcript")))).collect()(0)
    f"${r.getLong(0)}%d-${r.getLong(1)}%016x"
  }

  /** Order-independent checksum of an assignments table (one row per
    * clip_id): (rows, xor of row hashes, clusters). */
  def assignChecksum(assign: DataFrame): (Long, Long, Long) = {
    val r = assign.agg(count(lit(1)),
      bit_xor(xxhash64(col("clip_id"), col("cluster"), col("rep_clip_id"), col("is_rep"))),
      countDistinct(col("cluster"))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p)
      .sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

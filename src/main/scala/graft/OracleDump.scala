package graft

import graft.core.{DedupConfig, Murmur3}
import graft.corpus.CorpusGen
import graft.dedup.BruteForceOracle
import graft.text.TextFeatures
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-checkable expected outputs for queries whose semantics are not
  * DuckDB-expressible (the dedup pipeline itself, SimHash bucketing, audio
  * decode). Each writer computes the expectation with the INDEPENDENT
  * reference implementation — the brute-force O(n²) oracle
  * ([[BruteForceOracle]], grafting the reference's exact-oracle test method,
  * `MasterFETest.java:213-275`) or driver-side pure-Scala evaluation — and
  * persists it as a single parquet the driver's DuckDB reads back via
  * `read_parquet(...)`, turning the former rows-only checks into hard
  * hash-compared gates.
  *
  * Everything here is deterministic (seeded corpus, sorted emission), so
  * repeated Verify/Bench invocations rewrite identical bytes.
  */
object OracleDump {

  /** Where the expected parquets (and the persisted LSH output the e02
    * contract checks) land; oracleSql interpolates the same path. */
  def dir: String = sys.props.getOrElse("graft.oracleDir", "/tmp/graft_oracle")

  /** Oracle parquets are only needed for the Verify -> DuckDB correctness
    * flow; graft.Verify sets this. When off (the default — e.g. under
    * graft.Bench) the driver-side O(n²) brute-force computations are
    * skipped so benchmarks time the OPERATOR, not its test oracle. */
  def enabled: Boolean = sys.props.get("graft.writeOracles").contains("true")

  private val cfg = DedupConfig.default

  private def hashId(s: String): Long = Murmur3.hashString(s, cfg.seed + 6000L)

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Per index, the minimum of `value` over the index's component (`roots`
    * from [[BruteForceOracle.components]]). */
  private def componentMin[T: Ordering](roots: Array[Int], value: Int => T): IndexedSeq[T] = {
    val mins = roots.indices.groupMapReduce(roots(_))(value)(Ordering[T].min)
    roots.indices.map(i => mins(roots(i)))
  }

  /** Oracle components over `keys` (cluster-key strings): per index ->
    * (clusterLabel = min hashId of member key, repKey = lexicographically
    * smallest member key). */
  private def oracleComponents(keys: Array[String], roots: Array[Int])
      : (IndexedSeq[Long], IndexedSeq[String]) =
    (componentMin(roots, i => hashId(keys(i))), componentMin(roots, keys(_)))

  /** Expected p01 output: (clip_id, cluster, rep_clip_id, is_rep) for the
    * n-clip deterministic corpus, from the brute-force oracle. */
  def dedupAssignExpected(spark: SparkSession, n: Int, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    val pl = CorpusGen.plan(n, cfg.seed)
    val specs = (0 until n).map(i => CorpusGen.clipSpec(cfg.seed, i.toLong, pl))
    val ids = Array.tabulate(n)(i => CorpusGen.clipId(i.toLong))
    val (label, rep) = oracleComponents(ids,
      BruteForceOracle.clusters(specs.map(_.transcript).toArray, cfg))
    val rows = (0 until n).map(i => (ids(i), label(i), rep(i), ids(i) == rep(i)))
    write(rows.toDF("clip_id", "cluster", "rep_clip_id", "is_rep"), path)
  }

  /** Expected p02 output: the surviving (representative) rows with their
    * generation-time audio metadata. */
  def dedupSurvivorsExpected(spark: SparkSession, n: Int, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    val pl = CorpusGen.plan(n, cfg.seed)
    val specs = (0 until n).map(i => CorpusGen.clipSpec(cfg.seed, i.toLong, pl))
    val ids = Array.tabulate(n)(i => CorpusGen.clipId(i.toLong))
    val (_, rep) = oracleComponents(ids,
      BruteForceOracle.clusters(specs.map(_.transcript).toArray, cfg))
    val rows = (0 until n).filter(i => ids(i) == rep(i)).map { i =>
      val s = specs(i)
      (ids(i), s.params.srHz, s.params.durMs, s.codec)
    }
    write(rows.toDF("clip_id", "sr_hz", "dur_ms", "codec"), path)
  }

  /** Expected p03 output: per-codec decode stats computed by plain Scala
    * loops over the generated corpus (encode -> decode -> count/RMS), fully
    * outside the Spark expression/aggregation path the query exercises.
    * min/max are order-independent, so no float-summation-order hazard. */
  def audioStatsExpected(spark: SparkSession, n: Int, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    val pl = CorpusGen.plan(n, cfg.seed)
    val byCodec = scala.collection.mutable.Map[String, (Long, Long, Double, Double)]()
    var i = 0
    while (i < n) {
      val spec = CorpusGen.clipSpec(cfg.seed, i.toLong, pl)
      val pcm = CorpusGen.referencePcm(spec.params, spec.gain)
      val bytes = graft.audio.AudioCodec.encode(pcm, spec.codec)
      val dec = graft.audio.AudioCodec.decode(bytes, spec.codec)
      var acc = 0.0
      var j = 0
      while (j < dec.length) { val v = dec(j).toDouble; acc += v * v; j += 1 }
      val rms = if (dec.isEmpty) 0.0 else math.sqrt(acc / dec.length)
      val (cnt, samp, mn, mx) =
        byCodec.getOrElse(spec.codec, (0L, 0L, Double.MaxValue, Double.MinValue))
      byCodec.update(spec.codec,
        (cnt + 1, samp + dec.length, math.min(mn, rms), math.max(mx, rms)))
      i += 1
    }
    val rows = byCodec.toSeq.sortBy(_._1).map { case (c, (cnt, samp, mn, mx)) =>
      (c, cnt, samp, mn, mx)
    }
    write(rows.toDF("codec", "n", "total_samples", "min_rms", "max_rms"), path)
  }

  /** Expected d03 output: brute-force-oracle clustering of the documents
    * table (keys are the stringified doc_ids, matching the pipeline's
    * clip_id mapping). */
  def docClustersExpected(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    val collected = docs.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val keys = collected.map(_._1.toString)
    val (label, rep) = oracleComponents(keys, BruteForceOracle.clusters(collected.map(_._2), cfg))
    val rows = collected.indices.map { i =>
      (collected(i)._1, label(i), keys(i) == rep(i))
    }
    write(rows.toDF("doc_id", "cluster", "is_rep"), path)
  }

  /** Expected d09 output: audio-content dup clusters from an O(n^2)
    * sequential evaluation of the frozen [[graft.audio.SpectralSig]] pair
    * predicate over the same encode->decode bytes the corpus parquet holds,
    * plus union-find — fully outside the distributed bucketing/CC path the
    * query exercises. The lane's block-bucketing is recall-complete for the
    * predicate by pigeonhole (Hamming <= NumBlocks - 1), so the two edge
    * sets — and therefore the transitive closures — must be identical. */
  def audioDupExpected(spark: SparkSession, n: Int, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    write(audioDupRows(n).toDF("clip_id", "audio_cluster", "is_rep"), path)
  }

  /** The d09 sequential computation itself (also exercised directly by
    * AudioDedupSpec without the parquet round-trip). */
  def audioDupRows(n: Int): IndexedSeq[(String, Long, Boolean)] = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val pl = CorpusGen.plan(n, cfg.seed)
    val sigs = new Array[GenericArrayData](n)
    val fps = new Array[Long](n)
    var i = 0
    while (i < n) {
      val spec = CorpusGen.clipSpec(cfg.seed, i.toLong, pl)
      val pcm = CorpusGen.referencePcm(spec.params, spec.gain)
      val bytes = graft.audio.AudioCodec.encode(pcm, spec.codec)
      val dec = graft.audio.AudioCodec.decode(bytes, spec.codec)
      sigs(i) = new GenericArrayData(graft.audio.SpectralSig.sig(dec, spec.params.srHz))
      fps(i) = graft.audio.SpectralSig.fp64(sigs(i))
      i += 1
    }
    val roots = BruteForceOracle.components(n)((i, j) =>
      graft.audio.SpectralSig.isDupPair(fps(i), fps(j), sigs(i), sigs(j)))
    val ids = Array.tabulate(n)(i => CorpusGen.clipId(i.toLong))
    val (label, rep) = oracleComponents(ids, roots)
    (0 until n).map(i => (ids(i), label(i), ids(i) == rep(i)))
  }

  /** Expected d08 output: SimHash block-bucket size histogram computed by a
    * sequential Scala pass (the shared TextFeatures primitives ARE the
    * contract; what this checks is the distributed explode/groupBy plumbing). */
  def simhashHistExpected(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    val texts = docs.select("text").as[String].collect()
    val bucketCounts = scala.collection.mutable.Map[Long, Long]()
    texts.foreach { t =>
      val sim = TextFeatures.simhash64(t, cfg.seed)
      TextFeatures.simhashBlockKeys(sim, cfg).foreach { k =>
        bucketCounts.update(k, bucketCounts.getOrElse(k, 0L) + 1L)
      }
    }
    val hist = bucketCounts.values.groupBy(identity)
      .map { case (size, g) => (size, g.size.toLong) }
      .toSeq.sortBy(_._1)
    write(hist.toDF("group_size", "n_groups"), path)
  }

  /** Sequential cosine over float arrays — the SAME arithmetic (per-element
    * double widening, ascending accumulation order, zero-norm guard) as the
    * distributed predicate's kernel
    * ([[graft.functions.GraftFunctions.cosineSimData]]), so oracle and lane
    * agree bit-for-bit on every pair. */
  private def cosF(a: Array[Float], b: Array[Float]): Double = {
    val m = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < m) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Expected d10 output: O(n^2) exact-cosine near-dup clustering of the
    * embeddings table (threshold inclusive) + union-find, fully outside the
    * LSH/CandidatePairs/CC path the query exercises. Cluster label = min
    * vec_id of the component (matching [[graft.ann.EmbedDedup.clusters]]'s
    * deterministic contract); the LSH lane's (planes, tables) are sized so
    * candidate recall is complete at the gate scale, making the transitive
    * closures identical. */
  def embedClustersExpected(spark: SparkSession, vectors: DataFrame,
                            threshold: Double, path: String): Unit = {
    if (!enabled) return
    import spark.implicits._
    val rows = vectors.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    val roots = BruteForceOracle.components(rows.length)((i, j) =>
      cosF(rows(i)._2, rows(j)._2) >= threshold)
    val label = componentMin(roots, rows(_)._1)
    val out = rows.indices.map(i => (rows(i)._1, label(i), rows(i)._1 == label(i)))
    write(out.toDF("vec_id", "cluster", "is_rep"), path)
  }
}

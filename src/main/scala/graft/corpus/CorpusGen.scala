package graft.corpus

import graft.audio.AudioCodec
import graft.core.Rng
import org.apache.spark.sql.{Dataset, SparkSession}

/** The input-hint-shaped row (BASELINE.json `input_hint`):
  * clip_id STRING, bytes BINARY, sr_hz INT, dur_ms INT, codec STRING,
  * transcript STRING. */
final case class Clip(
    clip_id: String,
    bytes: Array[Byte],
    sr_hz: Int,
    dur_ms: Int,
    codec: String,
    transcript: String
)

/** Ground-truth side row (never an input column — FIXTURES.md §2). */
final case class TruthRow(
    clip_id: String,
    cluster_id: Long,
    canonical_flag: Boolean,
    perturbation: String
)

/** Deterministic synthetic audio+transcript corpus with planted near-dup
  * clusters, mirroring the reference's seeded synthetic-stream method
  * (`experiment/make_data.py:1-33` zipf/planted distributions;
  * `HashMapTest.java:37-38` fixed-seed discipline). Every clip is a pure
  * function of (seed, clip index) via counter-based RNG streams, so the
  * corpus is identical at any parallelism — and `referencePcm` can
  * regenerate any clip's pre-encode PCM for the SNR invariant without
  * storing it.
  */
object CorpusGen {

  /** Generator format version — folded into every on-disk cache key
    * ([[clipsCached]], the bench corpus path) so a generator change
    * invalidates stale parquet instead of silently serving it to
    * oracle-gated queries (ADVICE r3). BUMP THIS whenever any constant or
    * algorithm below changes the rendered corpus bytes. */
  final val FormatVersion = 1

  final val Vocab: Array[String] = {
    // deterministic ~5k-word vocabulary of pronounceable syllable words
    val syll = Array("ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du",
      "ka", "ke", "ki", "ko", "ku", "la", "le", "li", "lo", "lu",
      "ma", "me", "mi", "mo", "mu", "na", "ne", "ni", "no", "nu",
      "ra", "re", "ri", "ro", "ru", "sa", "se", "si", "so", "su",
      "ta", "te", "ti", "to", "tu", "va", "ve", "vi", "vo", "vu")
    val rng = Rng(777L, 1L)
    val common = Array("the", "and", "of", "to", "in", "is", "that", "for",
      "it", "with", "was", "on", "as", "at", "by", "this")
    val out = new Array[String](5000)
    var i = 0
    while (i < common.length) { out(i) = common(i); i += 1 }
    while (i < out.length) {
      val nSyll = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      var s = 0
      while (s < nSyll) { sb.append(syll(rng.nextInt(syll.length))); s += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** The planted cluster plan: clusterOf(i) and memberIdxOf(i) for each clip
    * index. Sizes zipf-shaped (make_data.py:15-20) with a few forced giant
    * clusters (the planted hot-key adversarial case, make_data.py:28-33) to
    * exercise hub-vertex salting. ~55% of clips are singletons/distractors.
    */
  final case class Plan(clusterOf: Array[Int], memberIdxOf: Array[Int], numClusters: Int)

  def plan(n: Int, seed: Long): Plan = {
    val rng = Rng(seed, 100L)
    val clusterOf = new Array[Int](n)
    val memberIdxOf = new Array[Int](n)
    var i = 0
    var cluster = 0
    // forced giant clusters first (skew case)
    val giants = if (n >= 2000) Seq(math.min(n / 20, 500), math.min(n / 40, 250)) else Seq(math.max(2, n / 25))
    giants.foreach { g =>
      var m = 0
      while (m < g && i < n) { clusterOf(i) = cluster; memberIdxOf(i) = m; m += 1; i += 1 }
      cluster += 1
    }
    while (i < n) {
      // ~90% singleton clusters; dup clusters zipf-sized in [2, 40] — yields
      // ~40% duplicate rows overall, web-dedup-realistic
      val size = if (rng.nextDouble() < 0.9) 1 else 2 + rng.nextZipf(38, 1.1)
      var m = 0
      while (m < size && i < n) { clusterOf(i) = cluster; memberIdxOf(i) = m; m += 1; i += 1 }
      cluster += 1
    }
    Plan(clusterOf, memberIdxOf, cluster)
  }

  // --------------------------------------------------------------- content

  private def canonicalTokens(seed: Long, clusterId: Int): Array[String] = {
    val rng = Rng(seed, 200L, clusterId.toLong)
    val n = 40 + rng.nextInt(120)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      // mix of common words (zipf-ish head) and tail vocab
      val idx = if (rng.nextDouble() < 0.3) rng.nextInt(16) else rng.nextInt(Vocab.length)
      out(i) = Vocab(idx)
      i += 1
    }
    out
  }

  /** Perturbation kinds a member applies to the canonical transcript. All
    * preserve near-duplicate status at the frozen config except "trunc",
    * which drops Jaccard below threshold but preserves exact substring
    * containment (the suffix-array lane's reason to exist). */
  private def perturbTranscript(canonical: Array[String], rng: Rng): (String, String) = {
    val kind = rng.nextDouble()
    if (kind < 0.15 && canonical.length >= 30) {
      // prefix/suffix truncation to 40-75% of tokens (substring containment)
      val keep = math.max(20, (canonical.length * rng.nextDoubleIn(0.4, 0.75)).toInt)
      val fromStart = rng.nextDouble() < 0.5
      val kept = if (fromStart) canonical.take(keep) else canonical.drop(canonical.length - keep)
      (kept.mkString(" "), "trunc")
    } else {
      // low-rate token edits + case jitter
      val out = new scala.collection.mutable.ArrayBuffer[String](canonical.length + 4)
      var i = 0
      while (i < canonical.length) {
        val r = rng.nextDouble()
        if (r < 0.02) {
          out += Vocab(rng.nextInt(Vocab.length)) // substitution
        } else if (r < 0.03) {
          // deletion: skip
        } else if (r < 0.04) {
          out += canonical(i)
          out += Vocab(rng.nextInt(Vocab.length)) // insertion
        } else {
          val w = canonical(i)
          out += (if (rng.nextDouble() < 0.05) w.toUpperCase else w) // case jitter
        }
        i += 1
      }
      (out.mkString(" "), "edit")
    }
  }

  private def uniqueTranscript(seed: Long, i: Long, hardNegative: Boolean, rng: Rng): String = {
    val n = 40 + rng.nextInt(120)
    val out = new Array[String](n)
    var j = 0
    while (j < n) {
      val idx =
        if (hardNegative) (if (rng.nextDouble() < 0.5) rng.nextInt(64) else rng.nextInt(Vocab.length))
        else (if (rng.nextDouble() < 0.3) rng.nextInt(16) else rng.nextInt(Vocab.length))
      out(j) = Vocab(idx)
      j += 1
    }
    out.mkString(" ")
  }

  // ---------------------------------------------------------------- audio

  final case class AudioParams(srHz: Int, durMs: Int, freqs: Array[Double],
                               amps: Array[Double], phases: Array[Double])

  private def audioParams(seed: Long, clusterId: Int): AudioParams = {
    val rng = Rng(seed, 300L, clusterId.toLong)
    val sr = rng.nextDouble() match {
      case d if d < 0.7 => 8000
      case d if d < 0.9 => 16000
      case d if d < 0.97 => 22050
      case _ => 44100
    }
    val dur = 500 + rng.nextZipf(2500, 1.2)
    val nSin = 2 + rng.nextInt(3)
    val freqs = Array.fill(nSin)(rng.nextDoubleIn(100.0, math.min(3500.0, sr / 2.5)))
    val amps = Array.fill(nSin)(rng.nextDoubleIn(0.1, 0.35))
    val phases = Array.fill(nSin)(rng.nextDoubleIn(0.0, 2 * math.Pi))
    AudioParams(sr, dur, freqs, amps, phases)
  }

  /** Pre-encode PCM of a clip (gain applied) — the reference PCM for the
    * SNR >= 30 dB per-row invariant. Pure function of (seed, index, plan). */
  def referencePcm(params: AudioParams, gain: Double): Array[Short] = {
    val nSamples = (params.srHz.toLong * params.durMs / 1000L).toInt
    val out = new Array[Short](nSamples)
    val w = new Array[Double](params.freqs.length)
    var s = 0
    while (s < params.freqs.length) {
      w(s) = 2 * math.Pi * params.freqs(s) / params.srHz
      s += 1
    }
    var i = 0
    while (i < nSamples) {
      var v = 0.0
      var j = 0
      while (j < params.freqs.length) {
        v += params.amps(j) * math.sin(w(j) * i + params.phases(j))
        j += 1
      }
      val scaled = v * gain * 32767.0
      out(i) = math.max(-32768.0, math.min(32767.0, scaled)).toShort
      i += 1
    }
    out
  }

  /** All per-clip derived generation facts, in one place so tests can
    * recompute the reference PCM for any clip_id. */
  final case class ClipSpec(index: Long, clusterId: Int, memberIdx: Int,
                            params: AudioParams, gain: Double, codec: String,
                            perturbation: String, transcript: String)

  def clipSpec(seed: Long, i: Long, pl: Plan): ClipSpec = {
    val clusterId = pl.clusterOf(i.toInt)
    val memberIdx = pl.memberIdxOf(i.toInt)
    val clusterSize = // singleton iff next/prev index not in same cluster
      if (memberIdx > 0) 2
      else if (i + 1 < pl.clusterOf.length && pl.clusterOf(i.toInt + 1) == clusterId) 2
      else 1
    val rng = Rng(seed, 400L, i)
    val params = audioParams(seed, clusterId)
    if (clusterSize == 1) {
      // distractor: unique content; 30% are hard negatives
      val hard = rng.nextDouble() < 0.3
      val transcript = uniqueTranscript(seed, i, hard, rng)
      val codec = pickCodec(rng)
      ClipSpec(i, clusterId, 0, params, 1.0, codec, if (hard) "hardneg" else "unique", transcript)
    } else {
      val canon = canonicalTokens(seed, clusterId)
      if (memberIdx == 0) {
        ClipSpec(i, clusterId, 0, params, 1.0, AudioCodec.PcmS16Le, "canonical", canon.mkString(" "))
      } else {
        val (transcript, kind) = perturbTranscript(canon, rng)
        val gain = rng.nextDoubleIn(0.98, 1.02)
        val codec = pickCodec(rng)
        ClipSpec(i, clusterId, memberIdx, params, gain, codec, kind, transcript)
      }
    }
  }

  private def pickCodec(rng: Rng): String = rng.nextDouble() match {
    case d if d < 0.7 => AudioCodec.PcmS16Le
    case d if d < 0.85 => AudioCodec.Ulaw
    case _ => AudioCodec.Alaw
  }

  def clipId(i: Long): String = f"clip-$i%012d"

  def renderClip(spec: ClipSpec): Clip = {
    val pcm = referencePcm(spec.params, spec.gain)
    val bytes = AudioCodec.encode(pcm, spec.codec)
    Clip(clipId(spec.index), bytes, spec.params.srHz, spec.params.durMs,
      spec.codec, spec.transcript)
  }

  // ------------------------------------------------------------ Spark side

  /** Distributed deterministic generation: Dataset[Clip] of n rows. The plan
    * array (2 ints per clip) is broadcast; content is generated inside
    * executors as a pure function of (seed, id) — no shuffle, no driver
    * data path, scales linearly with cores. */
  def clips(spark: SparkSession, n: Int, seed: Long = 42L,
            numPartitions: Int = 0): Dataset[Clip] = {
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val pl = plan(n, seed)
    val bc = spark.sparkContext.broadcast(pl)
    spark.range(0, n, 1, parts).mapPartitions { iter =>
      val p = bc.value
      iter.map(i => renderClip(clipSpec(seed, i, p)))
    }
  }

  /** Parquet-cached corpus: generated once per (n, seed) under /tmp and read
    * back. Keeps corpus synthesis (audio render + G.711 encode) out of the
    * timed window of every consumer — a bench/verify query should time the
    * OPERATOR over stored data, like production reads Iceberg (VERDICT r2).
    * The roundtrip is exact: binary/int/string columns only. */
  def clipsCached(spark: SparkSession, n: Int, seed: Long = 42L): org.apache.spark.sql.DataFrame = {
    val dir = s"/tmp/graft_corpus_cache_v${FormatVersion}_${n}_$seed"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      clips(spark, n, seed).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Ground-truth side table (planted clusters). */
  def truth(spark: SparkSession, n: Int, seed: Long = 42L): Dataset[TruthRow] = {
    import spark.implicits._
    val pl = plan(n, seed)
    val bc = spark.sparkContext.broadcast(pl)
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).map { i =>
      val p = bc.value
      val spec = clipSpec(seed, i, p)
      TruthRow(clipId(i), spec.clusterId.toLong, spec.memberIdx == 0, spec.perturbation)
    }
  }
}

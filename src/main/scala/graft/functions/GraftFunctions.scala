package graft.functions

import graft.core.DedupConfig
import graft.text.TextFeatures
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, QuaternaryExpression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the signature hot path.
  *
  * Per SURVEY.md §2.2 P3/P5 these are native `Expression`s rather than Scala
  * UDFs: no Encoder round-trip, null handling from the expression contract,
  * and they stay inside the WholeStageCodegen span (CodegenFallback evaluates
  * the expression via its interpreted path but the surrounding stage still
  * fuses — the dominant cost is the hash loops themselves, which run as
  * tight JVM loops in [[graft.text.TextFeatures]]).
  *
  * Measured (round 5, in-process stack sampler, 160k-clip pipeline at
  * pinned local[8]): every sampled hit under these expressions lands inside
  * the TextFeatures static loops — shingleSet 5.3%, tokens 4.9%,
  * simhash64 3.0%, winnowFingerprints 2.1% of total CPU — and ZERO hits on
  * interpreted-eval dispatch frames. A `doGenCode` for TextSignatures /
  * SimHash64 would emit the same static calls the fallback already makes,
  * so promotion cannot reduce their share; CosineSim stays the one
  * codegen-native expression because its per-call work is small enough
  * that dispatch DID show up there (~11 µs/pair, see below).
  *
  * The k-independent-seeded-hash pattern follows the reference's CountMin
  * probe bank (`CountMin.java:118-121`, `CountMinFast.java:137-138`).
  */
object GraftFunctions {

  private val cfg = DedupConfig.default

  // ------------------------------------------------------------ expressions

  /** simhash64(norm): 64-bit token-TF SimHash. */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      TextFeatures.simhash64(v.asInstanceOf[UTF8String].toString, cfg.seed)
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
    override def prettyName: String = "graft_simhash64"
  }

  /** simhash_block_keys(sim): Hamming-pigeonhole block bucket keys. */
  case class SimHashBlockKeys(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      new GenericArrayData(TextFeatures.simhashBlockKeys(v.asInstanceOf[Long], cfg))
    override protected def withNewChildInternal(c: Expression): SimHashBlockKeys = copy(c)
    override def prettyName: String = "graft_simhash_block_keys"
  }

  /** text_signatures(raw): fused per-document signature tuple — ONE
    * normalize + one shingle pass per family feeding all three candidate
    * lanes: struct(norm, simhash, bands, fps, nsh). The features stage
    * projects this once instead of evaluating four expressions that each
    * re-normalize. */
  case class TextSignatures(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("norm", StringType, nullable = false),
      StructField("simhash", LongType, nullable = false),
      StructField("bands", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("fps", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("nsh", IntegerType, nullable = false)))
    override def nullSafeEval(v: Any): Any = {
      val (norm, sim, bands, fps, nsh) =
        TextFeatures.signatures(v.asInstanceOf[UTF8String].toString, cfg)
      InternalRow(UTF8String.fromString(norm), sim,
        new GenericArrayData(bands), new GenericArrayData(fps), nsh)
    }
    override protected def withNewChildInternal(c: Expression): TextSignatures = copy(c)
    override def prettyName: String = "graft_text_signatures"
  }

  /** jaccard_ge(normA, normB): exact char-k-gram Jaccard >= threshold, via
    * hash-probe with thread-local shingle-set memoization (the verification
    * hot path — no sorts, shared sides amortized). */
  case class JaccardGe(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullSafeEval(a: Any, b: Any): Any =
      TextFeatures.jaccardGe(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
        cfg.shingleK, cfg.seed, cfg.jaccardThreshold)
    override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardGe =
      copy(l, r)
    override def prettyName: String = "graft_jaccard_ge"
  }

  /** hash_id(s): stable 64-bit id of a string key (raw, no normalization).
    * At 10^12-row scale a 64-bit id has non-trivial birthday collision mass;
    * production would widen to 128-bit (two columns) — the hash itself
    * (Murmur3 x64) already yields 128 bits. Kept 64-bit here for compact
    * joins; documented trade-off. */
  case class HashId(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      graft.core.Murmur3.hashString(v.asInstanceOf[UTF8String].toString, cfg.seed + 6000L)
    override protected def withNewChildInternal(c: Expression): HashId = copy(c)
    override def prettyName: String = "graft_hash_id"
  }

  /** murmur3_pair(value, seed): seeded 64-bit hash of a long pair — the
    * salting hash (sub-bucket assignment of a hot key's members), as a
    * native expression so salting needs no UDF and no driver-side state. */
  case class Murmur3Pair(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      graft.core.Murmur3.hashLong(a.asInstanceOf[Long], b.asInstanceOf[Long])
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Murmur3Pair =
      copy(l, r)
    override def prettyName: String = "graft_murmur3_pair"
  }

  // ------------------------------------------------------- text analysis

  /** lang_id(text): stopword-scored language guess (SQL-replicable). */
  case class LangId(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      UTF8String.fromString(TextFeatures.languageId(v.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(c: Expression): LangId = copy(c)
    override def prettyName: String = "graft_lang_id"
  }

  /** quality_score(text): [0,1] heuristic training-data quality. */
  case class QualityScore(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      TextFeatures.qualityScore(v.asInstanceOf[UTF8String].toString)
    override protected def withNewChildInternal(c: Expression): QualityScore = copy(c)
    override def prettyName: String = "graft_quality_score"
  }

  /** doc_fingerprint(text): 64-bit content fingerprint of normalized text. */
  case class DocFingerprint(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      TextFeatures.docFingerprint(v.asInstanceOf[UTF8String].toString, cfg.seed)
    override protected def withNewChildInternal(c: Expression): DocFingerprint = copy(c)
    override def prettyName: String = "graft_doc_fingerprint"
  }

  // ---------------------------------------------------------------- audio

  /** pcm_decode(bytes, codec): decode an opaque audio binary column to PCM
    * samples (array<int>, 16-bit range). Real G.711/PCM decoders — the
    * multimodal "decode" stage as a first-class engine expression over
    * BinaryType (SURVEY.md §2.2 P2). */
  case class PcmDecode(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(bytes: Any, codec: Any): Any = {
      val pcm = graft.audio.AudioCodec.decode(
        bytes.asInstanceOf[Array[Byte]], codec.asInstanceOf[UTF8String].toString)
      val out = new Array[Int](pcm.length)
      var i = 0
      while (i < pcm.length) { out(i) = pcm(i).toInt; i += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): PcmDecode =
      copy(l, r)
    override def prettyName: String = "graft_pcm_decode"
  }

  /** audio_rms(bytes, codec): RMS amplitude of the decoded signal — a cheap
    * audio feature/quality scalar (silence detection, gain outliers). */
  case class AudioRms(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(bytes: Any, codec: Any): Any = {
      val pcm = graft.audio.AudioCodec.decode(
        bytes.asInstanceOf[Array[Byte]], codec.asInstanceOf[UTF8String].toString)
      if (pcm.isEmpty) 0.0
      else {
        var acc = 0.0
        var i = 0
        while (i < pcm.length) { val v = pcm(i).toDouble; acc += v * v; i += 1 }
        math.sqrt(acc / pcm.length)
      }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): AudioRms =
      copy(l, r)
    override def prettyName: String = "graft_audio_rms"
  }

  /** audio_snr_db(bytesA, codecA, bytesB, codecB): SNR of B's decoded PCM
    * against A's over the common prefix — the per-row invariant metric. */
  case class AudioSnrDb(first: Expression, second: Expression,
                        third: Expression, fourth: Expression)
      extends QuaternaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(ba: Any, ca: Any, bb: Any, cb: Any): Any = {
      val ref = graft.audio.AudioCodec.decode(
        ba.asInstanceOf[Array[Byte]], ca.asInstanceOf[UTF8String].toString)
      val test = graft.audio.AudioCodec.decode(
        bb.asInstanceOf[Array[Byte]], cb.asInstanceOf[UTF8String].toString)
      graft.audio.AudioCodec.snrDb(ref, test)
    }
    override protected def withNewChildrenInternal(
        a: Expression, b: Expression, c: Expression, d: Expression): AudioSnrDb =
      copy(a, b, c, d)
    override def prettyName: String = "graft_audio_snr_db"
  }

  /** audio_spectral_sig(bytes, codec, srHz): gain-invariant normalized
    * spectral signature (array<float>, unit L2) of the decoded waveform —
    * Goertzel probe-bin powers, floored + normalized
    * ([[graft.audio.SpectralSig.sig]]). The acoustic feature the audio-dup
    * lane buckets and verifies on; FloatType so the codegen [[CosineSim]]
    * kernel consumes it directly. */
  case class AudioSpectralSig(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def nullSafeEval(bytes: Any, codec: Any, sr: Any): Any = {
      val pcm = graft.audio.AudioCodec.decode(
        bytes.asInstanceOf[Array[Byte]], codec.asInstanceOf[UTF8String].toString)
      new GenericArrayData(graft.audio.SpectralSig.sig(pcm, sr.asInstanceOf[Int]))
    }
    override protected def withNewChildrenInternal(
        a: Expression, b: Expression, c: Expression): AudioSpectralSig = copy(a, b, c)
    override def prettyName: String = "graft_audio_spectral_sig"
  }

  /** spectral_fp(sig): 64-bit margin-comparison fingerprint of a spectral
    * signature ([[graft.audio.SpectralSig.fp64]]) — computed FROM the sig
    * column so one decode+Goertzel pass per row feeds both the bucketing
    * fingerprint and the verification vector. */
  case class SpectralFp(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      graft.audio.SpectralSig.fp64(v.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): SpectralFp = copy(c)
    override def prettyName: String = "graft_spectral_fp"
  }

  // ----------------------------------------------------------- embeddings

  /** Shared cosine kernel reading floats straight off the columnar
    * [[ArrayData]] (no boxed copy); called from both the interpreted eval
    * and the generated code of [[CosineSim]]. Public static (Scala object
    * forwarder) so janino-generated Java can reference it. */
  def cosineSimData(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** cosine_sim(a, b): cosine similarity of two float vectors, accumulated
    * in double. 0.0 when either norm is 0. Codegen-native: the generated
    * code calls [[cosineSimData]] directly, so cosine stays inside the
    * WholeStageCodegen span (the interpreted CodegenFallback version cost
    * ~11 µs/pair of tree-walk + boxing on e03's cartesian baseline). */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(a: Any, b: Any): Any =
      cosineSimData(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.GraftFunctions.cosineSimData($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(l, r)
    override def prettyName: String = "graft_cosine_sim"
  }

  /** hyperplane_sig(vec, nPlanes, seed): random-hyperplane LSH signature of
    * a float vector — bit i = sign(vec · plane_i). Planes are deterministic
    * from (seed, plane, coord); the embedding-space analogue of SimHash
    * (same multi-hash trick as CountMin.java:118-121). */
  case class HyperplaneSig(child: Expression, nPlanes: Int, seed: Long)
      extends UnaryExpression with CodegenFallback {
    // fail at construction (plan time), not mid-query: the sig packs one bit
    // per plane into a Long, and nPlanes == 0 would leave planeCache an
    // empty array whose regrow check then throws on the second row
    require(nPlanes >= 1 && nPlanes <= 64,
      s"hyperplane_sig nPlanes must be in [1, 64], got $nPlanes")
    override def dataType: DataType = LongType

    /** Plane matrix cache: the coords are a pure function of (seed, plane,
      * coordIndex) — recomputing 8 planes x dim Murmur avalanches PER ROW
      * was ~8x the dot product's own work (VERDICT r2). Built lazily at the
      * first row's dimensionality, regrown if a wider vector appears.
      * Volatile publication; a benign race just rebuilds the same values. */
    @transient @volatile private var planeCache: Array[Array[Double]] = _
    private def planesFor(dim: Int): Array[Array[Double]] = {
      var pc = planeCache
      if (pc == null || pc(0).length < dim) {
        pc = Array.tabulate(nPlanes) { p =>
          // one avalanche over (seed, p) FIRST: with the additive form
          // (seed + 8000 + p) a multi-table caller using seeds seed+t —
          // the standard construction — had table t plane p equal to table
          // t+1 plane p-1, so "8 independent 16-plane tables" spanned 23
          // distinct planes and their union recall collapsed (measured
          // 0.67 vs the ~0.99 independent-table prediction at 1M vectors)
          val planeSeed = graft.core.Murmur3.hashLong(p.toLong, seed + 8000L)
          Array.tabulate(dim) { i =>
            // deterministic pseudo-uniform plane coord in [-1, 1)
            val h = graft.core.Murmur3.hashLong(i.toLong, planeSeed)
            (h >>> 11) * 1.1102230246251565e-16 * 2.0 - 1.0
          }
        }
        planeCache = pc
      }
      pc
    }

    override def nullSafeEval(v: Any): Any = {
      val vec = v.asInstanceOf[ArrayData].toFloatArray()
      val planes = planesFor(vec.length)
      var sig = 0L
      var p = 0
      while (p < nPlanes) {
        val plane = planes(p)
        var dot = 0.0
        var i = 0
        while (i < vec.length) {
          dot += vec(i) * plane(i)
          i += 1
        }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): HyperplaneSig = copy(c)
    override def prettyName: String = "graft_hyperplane_sig"
  }

  /** ivf_cells(vec): ids of the `nprobe` nearest coarse-quantizer centroids
    * by cosine (ties broken by smaller cid). The centroid bank — a run
    * constant of nlist×(dim floats + id) — is carried IN the expression, so
    * assigning 10^12 base vectors to cells is one narrow projection: no
    * nlist-way row expansion through a BroadcastNestedLoopJoin, no argmax
    * groupBy shuffle, no join of the assignment back to the embeddings
    * (the r3 shape paid all three). At cluster scale the bank serializes
    * with the task closure exactly like any literal (~nlist·dim·4 bytes —
    * 256 KB at nlist=1024, dim=64).
    *
    * Cosine arithmetic matches [[cosineSimData]] (double accumulation), so
    * cell assignment agrees with what a per-pair cosine_sim argmax computed.
    */
  case class IvfCells(child: Expression, cids: Array[Long],
                      cents: Array[Array[Float]], nprobe: Int)
      extends UnaryExpression with CodegenFallback {
    require(cents.nonEmpty && cids.length == cents.length,
      "ivf_cells needs a non-empty centroid bank with matching ids")
    require(nprobe >= 1, "ivf_cells nprobe must be >= 1")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // ADVICE r4: case-class equals/hashCode on Array params is reference-
    // based, so two semantically identical ivf_cells expressions never
    // compared equal — defeating Catalyst canonicalization/semanticEquals
    // (subexpression elimination, plan-cache reuse). Content-compare the
    // bank instead, and keep toString/explain stable by printing the bank's
    // SHAPE rather than JVM array identity hashes.
    override def equals(o: Any): Boolean = o match {
      case that: IvfCells =>
        child == that.child && nprobe == that.nprobe &&
          java.util.Arrays.equals(cids, that.cids) &&
          cents.length == that.cents.length &&
          cents.indices.forall(i => java.util.Arrays.equals(cents(i), that.cents(i)))
      case _ => false
    }
    override def hashCode(): Int = {
      var h = child.hashCode()
      h = h * 31 + java.util.Arrays.hashCode(cids)
      h = h * 31 + cents.foldLeft(0)((a, c) => a * 31 + java.util.Arrays.hashCode(c))
      h * 31 + nprobe
    }
    override protected def stringArgs: Iterator[Any] =
      Iterator(child, s"bank[${cids.length}x${cents.headOption.map(_.length).getOrElse(0)}]", nprobe)

    override def nullSafeEval(v: Any): Any = {
      val vec = v.asInstanceOf[ArrayData]
      val k = math.min(nprobe, cents.length)
      val topSim = new Array[Double](k)
      val topCid = new Array[Long](k)
      var filled = 0
      @inline def better(s: Double, id: Long, s2: Double, id2: Long): Boolean =
        s > s2 || (s == s2 && id < id2)
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        val n = math.min(vec.numElements(), cent.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < n) {
          val x = vec.getFloat(i).toDouble; val y = cent(i).toDouble
          dot += x * y; na += x * x; nb += y * y
          i += 1
        }
        val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
        val cid = cids(c)
        if (filled < k || better(sim, cid, topSim(k - 1), topCid(k - 1))) {
          var pos = if (filled < k) filled else k - 1
          while (pos > 0 && better(sim, cid, topSim(pos - 1), topCid(pos - 1))) {
            topSim(pos) = topSim(pos - 1); topCid(pos) = topCid(pos - 1)
            pos -= 1
          }
          topSim(pos) = sim; topCid(pos) = cid
          if (filled < k) filled += 1
        }
        c += 1
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        java.util.Arrays.copyOf(topCid, filled))
    }
    override protected def withNewChildInternal(c: Expression): IvfCells = copy(c)
    override def prettyName: String = "graft_ivf_cells"
  }

  // ------------------------------------------------------------ Column API

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  def text_signatures(c: Column): Column = col(TextSignatures(ex(c)))
  def simhash64(c: Column): Column = col(SimHash64(ex(c)))
  def simhash_block_keys(c: Column): Column = col(SimHashBlockKeys(ex(c)))
  def jaccard_ge(a: Column, b: Column): Column = col(JaccardGe(ex(a), ex(b)))
  def hash_id(c: Column): Column = col(HashId(ex(c)))
  def murmur3_pair(a: Column, b: Column): Column = col(Murmur3Pair(ex(a), ex(b)))
  def cosine_sim(a: Column, b: Column): Column = col(CosineSim(ex(a), ex(b)))
  def pcm_decode(bytes: Column, codec: Column): Column = col(PcmDecode(ex(bytes), ex(codec)))
  def audio_rms(bytes: Column, codec: Column): Column = col(AudioRms(ex(bytes), ex(codec)))
  def audio_snr_db(ba: Column, ca: Column, bb: Column, cb: Column): Column =
    col(AudioSnrDb(ex(ba), ex(ca), ex(bb), ex(cb)))
  def audio_spectral_sig(bytes: Column, codec: Column, srHz: Column): Column =
    col(AudioSpectralSig(ex(bytes), ex(codec), ex(srHz)))
  def spectral_fp(sig: Column): Column = col(SpectralFp(ex(sig)))
  def hyperplane_sig(c: Column, nPlanes: Int = 16, seed: Long = 42L): Column =
    col(HyperplaneSig(ex(c), nPlanes, seed))
  def ivf_cells(c: Column, cids: Array[Long], cents: Array[Array[Float]], nprobe: Int): Column =
    col(IvfCells(ex(c), cids, cents, nprobe))
  def lang_id(c: Column): Column = col(LangId(ex(c)))
  def quality_score(c: Column): Column = col(QualityScore(ex(c)))
  def doc_fingerprint(c: Column): Column = col(DocFingerprint(ex(c)))

  // --------------------------------------------------------- SQL registry

  /** Register all graft functions for SQL use in this session. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def one(name: String, b: Seq[Expression] => Expression): Unit =
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    one("graft_simhash64", es => SimHash64(es.head))
    one("graft_simhash_block_keys", es => SimHashBlockKeys(es.head))
    one("graft_hash_id", es => HashId(es.head))
    one("graft_murmur3_pair", es => Murmur3Pair(es(0), es(1)))
    one("graft_text_signatures", es => TextSignatures(es.head))
    one("graft_jaccard_ge", es => JaccardGe(es(0), es(1)))
    one("graft_cosine_sim", es => CosineSim(es(0), es(1)))
    one("graft_pcm_decode", es => PcmDecode(es(0), es(1)))
    one("graft_audio_rms", es => AudioRms(es(0), es(1)))
    one("graft_audio_snr_db", es => AudioSnrDb(es(0), es(1), es(2), es(3)))
    one("graft_audio_spectral_sig", es => AudioSpectralSig(es(0), es(1), es(2)))
    one("graft_spectral_fp", es => SpectralFp(es.head))
    one("graft_lang_id", es => LangId(es.head))
    one("graft_quality_score", es => QualityScore(es.head))
    one("graft_doc_fingerprint", es => DocFingerprint(es.head))
  }
}

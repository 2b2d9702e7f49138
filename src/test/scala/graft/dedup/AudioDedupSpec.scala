package graft.dedup

import graft.{OracleDump, SparkTest}
import graft.audio.{AudioCodec, SpectralSig}
import graft.corpus.CorpusGen
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class AudioDedupSpec extends AnyFunSuite with SparkTest {

  /** (sig, fp) per clip of the n-clip corpus, from the SAME encode->decode
    * bytes the parquet rows hold. */
  private def features(n: Int): (Array[GenericArrayData], Array[Long], CorpusGen.Plan) = {
    val pl = CorpusGen.plan(n, 42L)
    val sigs = new Array[GenericArrayData](n)
    val fps = new Array[Long](n)
    var i = 0
    while (i < n) {
      val spec = CorpusGen.clipSpec(42L, i.toLong, pl)
      val pcm = CorpusGen.referencePcm(spec.params, spec.gain)
      val dec = AudioCodec.decode(AudioCodec.encode(pcm, spec.codec), spec.codec)
      sigs(i) = new GenericArrayData(SpectralSig.sig(dec, spec.params.srHz))
      fps(i) = SpectralSig.fp64(sigs(i))
      i += 1
    }
    (sigs, fps, pl)
  }

  test("planted audio mates pass the pair predicate; cross-cluster pairs mostly don't") {
    val n = 400
    val (sigs, fps, pl) = features(n)
    var matePairs = 0
    var mateHits = 0
    var crossPairs = 0
    var crossHits = 0
    var maxMateHam = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val dup = SpectralSig.isDupPair(fps(i), fps(j), sigs(i), sigs(j))
        if (pl.clusterOf(i) == pl.clusterOf(j)) {
          matePairs += 1
          if (dup) mateHits += 1
          maxMateHam = math.max(maxMateHam, SpectralSig.hamming(fps(i), fps(j)))
        } else {
          crossPairs += 1
          if (dup) crossHits += 1
        }
        j += 1
      }
      i += 1
    }
    assert(matePairs > 100, s"degenerate plan: only $matePairs mate pairs")
    val recall = mateHits.toDouble / matePairs
    val fpRate = crossHits.toDouble / crossPairs
    // mates share the exact sinusoid mixture (gain/codec differ): the
    // margin-bit fingerprint and floored-cosine must accept nearly all
    assert(recall >= 0.99, s"mate-pair recall $recall (maxMateHam=$maxMateHam)")
    // different clusters draw independent random spectra; accidental
    // near-coincidence of every component is rare
    assert(fpRate <= 0.005, s"cross-cluster false-pair rate $fpRate")
  }

  test("gain and codec changes leave the fingerprint within MaxHamming") {
    val pl = CorpusGen.plan(60, 42L)
    // canonical member 0 of each planted cluster vs a re-render of the same
    // params at the gain extremes through each codec
    var checked = 0
    (0 until 60).foreach { i =>
      val spec = CorpusGen.clipSpec(42L, i.toLong, pl)
      if (spec.memberIdx == 0 && spec.perturbation == "canonical") {
        val base = new GenericArrayData(
          SpectralSig.sig(CorpusGen.referencePcm(spec.params, 1.0), spec.params.srHz))
        val fpBase = SpectralSig.fp64(base)
        for (gain <- Seq(0.98, 1.02); codec <- Seq(AudioCodec.PcmS16Le, AudioCodec.Ulaw, AudioCodec.Alaw)) {
          val pcm = CorpusGen.referencePcm(spec.params, gain)
          val dec = AudioCodec.decode(AudioCodec.encode(pcm, codec), codec)
          val s = new GenericArrayData(SpectralSig.sig(dec, spec.params.srHz))
          val ham = SpectralSig.hamming(fpBase, SpectralSig.fp64(s))
          assert(ham <= SpectralSig.MaxHamming,
            s"clip $i codec=$codec gain=$gain hamming=$ham")
          val cos = graft.functions.GraftFunctions.cosineSimData(base, s)
          assert(cos >= SpectralSig.MinCosine, s"clip $i codec=$codec gain=$gain cos=$cos")
          checked += 1
        }
      }
    }
    assert(checked >= 6, s"too few canonical clips checked: $checked")
  }

  test("distributed lane equals the sequential O(n^2) oracle exactly") {
    // n=500 matches the driver gate's corpus: its zero-block buckets run
    // hundreds deep (411/319/106 at the default cap of 64), so this test
    // exercises the recursive-pigeonhole split on the real pathology — at
    // n=300 the flat-cap recall leak went undetected
    val n = 500
    val clips = CorpusGen.clips(spark, n).toDF()
    val got = AudioDedup.run(clips, graft.core.DedupConfig.default)
      .select(col("clip_id"), col("cluster"), col("is_rep"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
      .sortBy(_._1)
      .toIndexedSeq
    val want = OracleDump.audioDupRows(n)
    assert(got == want)
  }

  test("lane recovers planted clusters from audio alone (transcript-blind)") {
    val n = 300
    val clips = CorpusGen.clips(spark, n).toDF()
    val assign = AudioDedup.run(clips, graft.core.DedupConfig.default)
      .select(col("clip_id"), col("cluster")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pl = CorpusGen.plan(n, 42L)
    var plantedPairs = 0
    var recovered = 0
    (0 until n).foreach { i =>
      ((i + 1) until n).foreach { j =>
        if (pl.clusterOf(i) == pl.clusterOf(j)) {
          plantedPairs += 1
          if (assign(CorpusGen.clipId(i.toLong)) == assign(CorpusGen.clipId(j.toLong)))
            recovered += 1
        }
      }
    }
    assert(plantedPairs > 50)
    val recall = recovered.toDouble / plantedPairs
    // even "trunc" transcript perturbations share the cluster's waveform, so
    // the audio lane should see essentially every planted pair
    assert(recall >= 0.99, s"planted audio-pair recall $recall")
  }

  test("with broadcasts off the audio verify joins sort-merge, same clusters") {
    val clips = CorpusGen.clips(spark, 200).toDF()
    def run() = AudioDedup.run(clips, graft.core.DedupConfig.default)
      .select(col("clip_id"), col("cluster")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (default, pinnedPlans) = plansWith("graft_cosine_sim")(run())
    assert(pinnedPlans.nonEmpty && pinnedPlans.forall(_.contains("BroadcastExchange")),
      s"default run did not broadcast its verify lookups:\n${pinnedPlans.mkString("\n")}")
    val (got, plans) = plansWith("graft_cosine_sim")(RunScope.withConf(spark, NoBroadcasts)(run()))
    assert(plans.nonEmpty, "no verify plan captured")
    plans.foreach(plan => assert(!plan.contains("BroadcastExchange"),
      s"verified through a broadcast with broadcasts off:\n$plan"))
    assert(got == default)
  }

  test("spectral expressions are SQL-registered") {
    graft.functions.GraftFunctions.register(spark)
    val clips = CorpusGen.clips(spark, 20).toDF()
    clips.createOrReplaceTempView("audspec_clips")
    val rows = spark.sql(
      """SELECT clip_id,
        |       graft_spectral_fp(graft_audio_spectral_sig(bytes, codec, sr_hz)) AS fp
        |FROM audspec_clips""".stripMargin).collect()
    assert(rows.length == 20)
    assert(rows.map(_.getLong(1)).distinct.length > 1)
  }
}

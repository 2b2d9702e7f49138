package graft.functions

import graft.SparkTest
import graft.core.Rng
import graft.corpus.CorpusGen
import graft.functions.GraftFunctions._
import graft.functions.SketchAggregates._
import graft.text.TextFeatures
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite with SparkTest {

  test("freq_sketch_topk across many partitions equals exact GROUP BY/HAVING") {
    import spark.implicits._
    val rng = Rng(7, 7)
    val data = Array.fill(50000)(rng.nextZipf(500, 1.1).toLong)
    val df = spark.createDataset(data.toSeq).repartition(16).toDF("key")
    val exact = df.groupBy($"key").count().where($"count" >= 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // k=1024 > 500 distinct => MG exact; partial/merge path crosses 16 partitions
    val sketch = df.agg(freq_sketch_topk($"key", 1024, 200L).as("hh"))
      .select(explode($"hh").as("h"))
      .select($"h.key", $"h.est")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sketch == exact)
  }

  test("freq_sketch_topk with small k still returns superset with valid bounds") {
    import spark.implicits._
    val rng = Rng(8, 8)
    val data = Array.fill(100000)(rng.nextZipf(20000, 1.1).toLong)
    val df = spark.createDataset(data.toSeq).repartition(8).toDF("key")
    val exact = df.groupBy($"key").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val threshold = 400L
    val rows = df.agg(freq_sketch_topk($"key", 256, threshold).as("hh"))
      .select(explode($"hh").as("h"))
      .select($"h.key", $"h.lb", $"h.est", $"h.ub")
      .collect()
    val found = rows.map(_.getLong(0)).toSet
    exact.filter(_._2 >= threshold).keys.foreach(k =>
      assert(found.contains(k), s"true heavy hitter $k missed"))
    rows.foreach { r =>
      val c = exact.getOrElse(r.getLong(0), 0L)
      assert(r.getLong(1) <= c && c <= r.getLong(3),
        s"bounds [${r.getLong(1)},${r.getLong(3)}] miss true $c for key ${r.getLong(0)}")
    }
  }

  test("countmin_sketch + countmin_estimate never underestimate") {
    import spark.implicits._
    val rng = Rng(9, 9)
    val data = Array.fill(30000)(rng.nextZipf(300, 0.9).toLong)
    val df = spark.createDataset(data.toSeq).repartition(8).toDF("key")
    val exact = df.groupBy($"key").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sk = df.agg(countmin_sketch($"key", 0.001, 0.01).as("sk"))
    val keys = spark.createDataset(exact.keys.toSeq).toDF("k")
    val ests = keys.crossJoin(sk)
      .select($"k", countmin_estimate($"sk", $"k").as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) =>
      assert(ests(k) >= c, s"CM underestimated $k: ${ests(k)} < $c")
      assert(ests(k) <= c + (0.001 * data.length).toLong + 1)
    }
  }

  test("conservative countmin agg + bounds expressions: lb <= true <= ub = est") {
    import spark.implicits._
    val rng = Rng(10, 10)
    val data = Array.fill(30000)(rng.nextZipf(300, 0.9).toLong)
    val df = spark.createDataset(data.toSeq).repartition(8).toDF("key")
    val exact = df.groupBy($"key").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eps = 0.001
    // conservative=true through the distributed partial/merge path
    val bytes = df.agg(countmin_sketch($"key", eps, 0.01, conservative = true).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val plainBytes = df.agg(countmin_sketch($"key", eps, 0.01).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val keys = spark.createDataset(exact.keys.toSeq).toDF("k")
    // literal sketch => foldable decode-once path; lb/ub/est in one pass
    val rows = keys.select($"k",
        countmin_estimate(lit(bytes), $"k").as("est"),
        countmin_lower(lit(bytes), $"k").as("lb"),
        countmin_upper(lit(bytes), $"k").as("ub"),
        countmin_estimate(lit(plainBytes), $"k").as("plain"),
        countmin_maxerror(lit(bytes)).as("maxerr"))
      .collect()
    val maxErr = math.ceil(eps * data.length).toLong
    rows.foreach { r =>
      val (k, est, lb, ub, plain, me) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      val c = exact(k)
      assert(est >= c, s"conservative CM underestimated $k")
      assert(est <= plain, s"conservative worse than plain for $k")
      assert(lb <= c && c <= ub, s"bounds [$lb,$ub] miss true $c for $k")
      assert(lb == math.max(0L, est - maxErr) && ub == est && me == maxErr)
    }
    // the non-foldable (content-cached) path returns identical values
    val sk = df.agg(countmin_sketch($"key", eps, 0.01, conservative = true).as("sk"))
    val viaJoin = keys.crossJoin(sk)
      .select($"k", countmin_estimate($"sk", $"k").as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(viaJoin(r.getLong(0)) == r.getLong(1)))
  }

  test("audio expressions: decode round-trip, rms, per-row SNR invariant") {
    import spark.implicits._
    val n = 50
    val clips = CorpusGen.clips(spark, n).toDF()
    val stats = clips.select(
      $"codec",
      size(pcm_decode($"bytes", $"codec")).as("n_samples"),
      audio_rms($"bytes", $"codec").as("rms"),
      ($"sr_hz".cast("long") * $"dur_ms" / 1000).cast("int").as("expected_samples"))
      .collect()
    stats.foreach { r =>
      assert(r.getInt(1) == r.getInt(3), s"sample count mismatch for ${r.getString(0)}")
      assert(r.getDouble(2) > 100.0, "audible signal expected")
    }
    // self-SNR through the binary column is +inf for pcm, >=30dB for g711
    val snrs = clips.select($"codec",
      audio_snr_db($"bytes", $"codec", $"bytes", $"codec").as("snr")).collect()
    snrs.foreach(r => assert(r.getDouble(1) > 1000 || r.getDouble(1).isPosInfinity))
  }

  test("SQL registration: graft functions callable from spark.sql") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val cfg = graft.core.DedupConfig.default
    val texts = Seq(
      "The  Quick   Brown Fox",
      "the cat and the dog in the house for the win, the end",
      "A\tlonger  transcript: it repeats, it repeats, it repeats itself " * 3)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .createOrReplaceTempView("sqlreg")
    CorpusGen.clips(spark, 6).toDF().createOrReplaceTempView("sqlreg_clips")
    val textSql =
      """SELECT t, graft_text_signatures(t) AS sig,
        |       graft_text_signatures(t).norm AS norm,
        |       graft_simhash64(graft_text_signatures(t).norm) AS sim,
        |       graft_simhash_block_keys(graft_text_signatures(t).simhash) AS blocks,
        |       size(graft_text_signatures(t).bands) AS nbands,
        |       graft_jaccard_ge(graft_text_signatures(t).norm, graft_text_signatures(t).norm) AS jac,
        |       graft_lang_id(t) AS lang,
        |       graft_quality_score(t) AS q,
        |       graft_doc_fingerprint(t) AS fp,
        |       graft_hash_id(t) AS hid,
        |       graft_murmur3_pair(id, 7L) AS salt
        |FROM sqlreg ORDER BY id""".stripMargin
    val audioSql =
      """SELECT size(graft_pcm_decode(bytes, codec)) AS n_samples,
        |       CAST(sr_hz AS BIGINT) * dur_ms DIV 1000 AS expected_samples,
        |       graft_audio_rms(bytes, codec) AS rms,
        |       graft_audio_snr_db(bytes, codec, bytes, codec) AS snr,
        |       graft_cosine_sim(graft_audio_spectral_sig(bytes, codec, sr_hz),
        |                        graft_audio_spectral_sig(bytes, codec, sr_hz)) AS self_cos,
        |       graft_spectral_fp(graft_audio_spectral_sig(bytes, codec, sr_hz)) AS sfp
        |FROM sqlreg_clips""".stripMargin

    // every registered graft_* name is called above, and nothing else is
    // registered: a function added to `register` without a call here fails
    val called = "graft_\\w+(?=\\()".r.findAllIn(textSql + audioSql).toSet
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(registered == called)

    val rows = spark.sql(textSql).collect()
    assert(rows.length == texts.length)
    assert(rows(0).getAs[String]("norm") == "the quick brown fox")
    def longs(r: Row, field: String): Seq[Long] = r.getSeq[Long](r.fieldIndex(field)).toSeq
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getAs[String]("t") == t)
      // the pipeline reads these fields by name off the fused struct
      val (norm, sim, bands, fps, nsh) = TextFeatures.signatures(t, cfg)
      val sig = r.getAs[Row]("sig")
      assert(sig.getAs[String]("norm") == norm)
      assert(sig.getAs[Long]("simhash") == sim)
      assert(longs(sig, "bands") == bands.toSeq)
      assert(longs(sig, "fps") == fps.toSeq)
      assert(sig.getAs[Int]("nsh") == nsh)
      assert(r.getAs[Long]("sim") == sim)
      assert(longs(r, "blocks") == TextFeatures.simhashBlockKeys(sim, cfg).toSeq)
      assert(r.getAs[Int]("nbands") == cfg.bands)
      assert(r.getAs[Boolean]("jac"))
      assert(r.getAs[String]("lang") == TextFeatures.languageId(t))
      assert(r.getAs[Double]("q") == TextFeatures.qualityScore(t))
      assert(r.getAs[Long]("fp") == TextFeatures.docFingerprint(t, cfg.seed))
    }
    assert(rows.map(_.getAs[Long]("hid")).distinct.length == texts.length)
    assert(rows.map(_.getAs[Long]("salt")).distinct.length == texts.length)

    spark.sql(audioSql).collect().foreach { r =>
      assert(r.getAs[Int]("n_samples") == r.getAs[Long]("expected_samples"))
      assert(r.getAs[Double]("rms") > 100.0, "audible signal expected")
      val snr = r.getAs[Double]("snr")
      assert(snr > 1000 || snr.isPosInfinity)
      assert(math.abs(r.getAs[Double]("self_cos") - 1.0) < 1e-6)
    }
  }

  test("lang_id / quality_score / doc_fingerprint as columns") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog in the house for the win"),
      (2L, "der hund und die katze ist nicht mit ein buch"),
      (3L, "xyzzy plugh")).toDF("id", "text")
    val out = df.select($"id", lang_id($"text").as("lang"),
      quality_score($"text").as("q"), doc_fingerprint($"text").as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("ivf_cells returns nearest centroids, sim-desc with cid-asc ties") {
    import spark.implicits._
    // cids 10 and 30 share a centroid: the tie must order 10 before 30
    val cids = Array(10L, 20L, 30L)
    val cents = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 0f))
    val df = Seq((1L, Seq(1f, 0.1f)), (2L, Seq(0.1f, 1f))).toDF("id", "v")
    val out = df.orderBy("id")
      .select(ivf_cells(col("v"), cids, cents, 3))
      .collect().map(_.getSeq[Long](0))
    assert(out(0) == Seq(10L, 30L, 20L))
    assert(out(1) == Seq(20L, 10L, 30L))
    // nprobe clamps to the bank size; degenerate nprobe fails at plan time
    val one = df.select(ivf_cells(col("v"), cids, cents, 1)).collect()
    assert(one.forall(_.getSeq[Long](0).length == 1))
    intercept[IllegalArgumentException] {
      GraftFunctions.IvfCells(null, cids, cents, 0)
    }
  }
}

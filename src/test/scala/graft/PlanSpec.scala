package graft

import graft.corpus.CorpusGen
import graft.dedup.{DedupPipeline, RunScope}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the 100 TB guarantees the code relies
  * on must be visible in `explain`, not assumed. */
class PlanSpec extends AnyFunSuite with SparkTest {

  private lazy val corpusPath = {
    val dir = tempDir("graft-plan") + "/clips"
    CorpusGen.clips(spark, 200).write.mode("overwrite").parquet(dir)
    dir
  }

  test("features stage prunes the audio bytes column from the parquet scan") {
    val clips = spark.read.parquet(corpusPath)
    val plan = DedupPipeline.features(clips).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("bytes"),
      s"audio bytes column must not be read by text stages:\n$plan")
  }

  test("filters on scan columns push down to parquet") {
    val clips = spark.read.parquet(corpusPath)
    val plan = clips.where(col("sr_hz") === 8000)
      .select(col("clip_id")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(sr_hz), EqualTo(sr_hz,8000)]"),
      s"expected pushed filter:\n$plan")
  }

  test("dimension join broadcasts the small side") {
    val plan = SparkEntry.queries("q03_join_agg")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("aggregations use partial (map-side) aggregation") {
    val plan = SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // HashAggregate appears twice per group-by: partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"expected partial agg:\n$plan")
  }

  test("CC propagate round never re-exchanges the sym table") {
    // checkpointedSym repartitions+sorts by the join key BEFORE the eager
    // checkpoint; localCheckpoint preserves partitioning/ordering in the
    // LogicalRDD, so under CC.run's conf scope (AQE off, auto-broadcast
    // off — the label table is O(vertices) and must never broadcast) each
    // per-round propagate join exchanges the LABEL side only. Re-shuffling
    // the edge table every round is the shape that dies at 10^12 rows.
    import spark.implicits._
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val p = math.max(2, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    RunScope.withConf(spark, RunScope.StaticJoins) {
      val sym = graft.dedup.ConnectedComponents.checkpointedSym(edges, p)
      val labels = graft.dedup.ConnectedComponents.initLabels(sym).localCheckpoint(true)
      // propagate() is the round's only edge-table join (step() eagerly
      // checkpoints its result before the jumps, so the sym scan is no
      // longer visible in step()'s returned plan — assert on the subplan
      // the production rounds actually execute)
      val round = graft.dedup.ConnectedComponents.propagate(sym, labels)
      val exec = round.queryExecution.executedPlan
      // ancestor chains root→…→scan for every sym scan (2-col src/dst RDD)
      def paths(n: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = n match {
        case r: RDDScanExec if r.output.map(_.name) == Seq("src", "dst") => Seq(n :: anc)
        case _ => n.children.flatMap(c => paths(c, n :: anc))
      }
      val symPaths = paths(exec, Nil)
      assert(symPaths.nonEmpty, s"expected checkpointed sym scans:\n$exec")
      symPaths.foreach { path => // scan-first; walk up to the first join
        val belowJoin = path.takeWhile(n => !n.nodeName.contains("Join"))
        assert(!belowJoin.exists(_.nodeName.contains("Exchange")),
          s"sym re-exchanged before its propagate join:\n$exec")
        assert(!belowJoin.exists(_.nodeName == "Sort"),
          s"sym re-sorted before its propagate join (ordering not preserved):\n$exec")
      }
      // hook() must read propagate, and with it sym, exactly once: Spark
      // does not reuse an exchange above a partitioned checkpoint leaf, so a
      // second reference would rescan sym
      val hooked = graft.dedup.ConnectedComponents.hook(sym, labels).queryExecution.executedPlan
      assert(paths(hooked, Nil).size == 1, s"hooked round scans sym more than once:\n$hooked")
    }
  }

  test("ANN lanes plan no nested-loop join and no cartesian product") {
    // the scale contract of both ANN paths (VERDICT r3 #5): LSH candidates
    // come from an equi self-join on (table, bucket); IVF cell assignment is
    // a PROJECTION (centroid bank inside the ivf_cells expression) and the
    // probe join is an equi join on cell id. A BroadcastNestedLoopJoin or
    // CartesianProduct anywhere means a per-row scan of the base table —
    // the plan that dies at 10^12 vectors. (bruteForceTopK keeps one BY
    // DESIGN: it is the exact baseline, not a scale path.)
    val vecs = graft.corpus.EmbedGen.vectors(spark, 2000, numPartitions = 4)
    val queries = vecs.where(col("vec_id") % 10 === 0)
    for ((name, df) <- Seq(
        "lshTopK" -> graft.ann.Ann.lshTopK(vecs, 3),
        "ivfTopK" -> graft.ann.Ann.ivfTopK(queries, vecs, 3, nlist = 16, nprobe = 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$plan")
    }
  }

  test("audio lane prunes the transcript column and plans no cartesian") {
    // the audio-content dedup lane reads the WAVEFORM columns only (its
    // whole point is transcript-blindness — and at 10^12 rows the transcript
    // is dead weight in its scan), and its candidate/verify stages must stay
    // equi-join shaped like the text lane's
    val clips = spark.read.parquet(corpusPath)
    val feats = graft.dedup.AudioDedup.features(clips)
    val featPlan = feats.queryExecution.executedPlan.toString
    assert(!featPlan.contains("transcript"),
      s"audio features must not read the transcript:\n$featPlan")
    val edgePlan = graft.dedup.AudioDedup
      .verifiedEdges(feats, graft.core.DedupConfig.default)
      .queryExecution.executedPlan.toString
    assert(!edgePlan.contains("BroadcastNestedLoopJoin"),
      s"audio lane plans a nested-loop join:\n$edgePlan")
    assert(!edgePlan.contains("CartesianProduct"),
      s"audio lane plans a cartesian product:\n$edgePlan")
  }

  test("text lane pair-gen exchange carries only bkey and id") {
    // the bucket rows are the pipeline's widest shuffle: the run-streaming
    // exchange must move 2-long rows; fingerprints travel only on the
    // audio lane's exchange (CandidatePairs.pairsHamming)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val feats = DedupPipeline.features(spark.read.parquet(corpusPath))
    RunScope.withConf(spark, RunScope.StaticJoins) {
      val plan = DedupPipeline.candidates(feats).queryExecution.executedPlan
      val bucketExchanges = plan.collect {
        case e: ShuffleExchangeExec if e.output.exists(_.name == "bkey") => e.output.map(_.name)
      }
      assert(bucketExchanges == Seq(Seq("bkey", "id")), s"pair-gen exchange columns:\n$plan")
    }
  }

  test("sketch aggregate runs as ObjectHashAggregate with partial merge") {
    val plan = SparkEntry.queries("q09_heavy_hitters_sketch")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected object hash agg:\n$plan")
    assert(plan.contains("partial_graft_freq_sketch_topk"), s"expected partial sketch agg:\n$plan")
  }
}

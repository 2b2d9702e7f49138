package graft

import graft.ann.Ann
import graft.core.DedupConfig
import graft.corpus.CorpusGen
import graft.dedup.{DedupPipeline, RunScope}
import graft.functions.GraftFunctions._
import graft.functions.SketchAggregates._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with DuckDB-executable oracle SQL where the
  * semantics are SQL-expressible. Column names and row order are aligned
  * between the Spark plan and the SQL (aggregates cast to DECIMAL so both
  * engines sum exactly; ranked outputs break ties on ids).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Drain a bounded streaming query (AvailableNow) with stream-sized state
    * parallelism and a tmpfs-backed checkpoint.
    *
    * - State-store partitions are clamped to 8: the state op's task count
    *   should track the STATE size (a few thousand keys here), not the
    *   session's core count — at 32 partitions each micro-batch paid 32
    *   state-store open/commit round-trips of which ~4/5 held no state
    *   (measured on s02: stage run 13.0s vs cpu 1.2s, nearly all
    *   state-commit I/O wait). Production sizing scales this with
    *   keyspace, not cores.
    * - The checkpoint lives under /dev/shm (fresh random dir per
    *   invocation, deleted after the drain): the HDFS-backed state store
    *   fsyncs delta files per partition per batch, which on /tmp is disk
    *   latency serialized behind every batch. A FRESH dir each call keeps
    *   every invocation computing from its inputs (no resume-from-old-
    *   checkpoint shortcut).
    * - Results are state-partitioning-independent (same groups, same
    *   merges), oracle-gated like every query. */
  private def runStream(s: SparkSession, df: DataFrame, sink: String,
                        mode: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val ckptBase = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else
        System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptBase, s"graft-$sink-ckpt")
    try RunScope.withConf(s, Map("spark.sql.shuffle.partitions" -> "8")) {
      val q = df.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.stop()
    } finally scala.util.Try(deleteTree(ckpt))
  }

  /** Deletes `root` and everything under it, if it exists. */
  private def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root))
      scala.util.Using.resource(java.nio.file.Files.walk(root))(
        _.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p)))

  /** A directory holding a copy of `$d/events.parquet` for a file-stream
    * source (which lists a directory; the sf table is a single file). It is
    * keyed by `name` and by the source's canonical path hashed with `seed`,
    * so a copy is staged once per source and reused, and a Verify against a
    * different sf dir never reads a stale copy. */
  private def stageEvents(d: String, name: String, seed: Long): java.nio.file.Path = {
    val srcTag = java.lang.Long.toHexString(
      graft.core.Murmur3.hashString(new java.io.File(d).getCanonicalPath, seed))
    val streamDir = java.nio.file.Paths.get(s"${OracleDump.dir}/${name}_events_src_$srcTag")
    java.nio.file.Files.createDirectories(streamDir)
    val target = streamDir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(target))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"), target)
    streamDir
  }

  /** e02/e04's cross-verified recall contract, run only under Verify
    * (benchmarks time the ANN search itself): the approximate top-k is
    * persisted under `name`; BOTH engines then independently compute the
    * exact top-3 of `queries` over `vecs` and measure the persisted
    * result's recall against it (+ the >= 0.8 floor as a column), so the
    * reported recall is cross-verified by DuckDB, not self-asserted. */
  private def recallChecked(s: SparkSession, topK: DataFrame, queries: DataFrame,
                            vecs: DataFrame, name: String): DataFrame = {
    import s.implicits._
    if (!OracleDump.enabled) return topK.orderBy(col("vec_id"), col("rank"))
    topK.coalesce(1).write.mode("overwrite").parquet(s"${OracleDump.dir}/$name")
    val exact = Ann.bruteForceTopK(queries, vecs, 3)
      .select(col("vec_id"), col("neighbor_id"))
    val got = s.read.parquet(s"${OracleDump.dir}/$name")
    val nExact = exact.count()
    val nHits = exact.join(got, Seq("vec_id", "neighbor_id"), "left_semi").count()
    val recallBp = math.floor(10000.0 * nHits / nExact).toLong
    Seq((nExact, nHits, recallBp, recallBp >= 8000L))
      .toDF("n_exact", "n_hits", "recall_bp", "meets_floor")
  }

  /** Flagship: the near-dup clustering pipeline on a 500-clip deterministic
    * corpus (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val clips = CorpusGen.clipsCached(spark, 500)
    DedupPipeline.run(clips, DedupConfig.default)
      .orderBy(col("clip_id"))
  }

  private val dec = "decimal(18,2)"

  /** Exact discounted price: decimal×decimal (no double rounding anywhere —
    * per-row double→decimal cast of a product rounds differently across
    * engines; prices are 2-dec and discounts 2-dec by construction). */
  private def discounted = (col("l_extendedprice").cast(dec) *
    (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ------------------------------------------------ relational operators
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // sums accumulate in DECIMAL (exact) and the FINAL value is cast to
        // DOUBLE: Spark widens decimal sums to DECIMAL(p+10,s), DuckDB to
        // DECIMAL(38,s) — value-identical but engine-native-type-different,
        // which trips the driver's hash. A final double is bit-identical in
        // both engines (unscaled sums here are far below 2^53, and IEEE
        // decimal->double conversion is correctly rounded in both).
        .agg(
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base"),
          sum(discounted).cast("double").as("sum_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_topn_revenue" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(discounted).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q03_join_agg" -> ((s, d) => {
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(dec)).as("sum_price"))
        .orderBy(col("c_mktsegment"))
    }),
    "q04_window_rank" -> ((s, d) => {
      // top-3 orders per customer. row_number().over(partitionBy(custkey))
      // shuffled and sorted EVERY order row just to keep 3 per key; the
      // bounded top-k aggregate has the identical (totalprice desc,
      // orderkey asc) comparator and tie cut but reduces each task to <=3
      // entries per custkey BEFORE the exchange (guide §2.3 "aggregate
      // before you shuffle"). o_totalprice is a parquet double, so the
      // comparison value is byte-identical to the window's.
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKAggregates.topk_neighbors(
          col("o_orderkey"), col("o_totalprice"), 3).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "p")))
        .select(col("o_custkey"), col("p.neighbor_id").as("o_orderkey"),
          (col("pos") + 1).cast("int").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    "q05_semi_join" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),
    "q06_anti_join" -> ((s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
    "q07_setops" -> ((s, d) => {
      // INTERSECT/EXCEPT of two DISTINCT projections over the same join,
      // computed as ONE pass: per-suppkey presence flags for each brand
      // (map-side-combinable bool-max agg), then the set membership is a
      // projection — a in both ⟺ (inA ∧ inB), a only ⟺ (inA ∧ ¬inB).
      // Identical result set to the intersect/except formulation (both
      // operate on DISTINCT suppkeys; r6 plan: 1 lineitem scan + 1 agg
      // exchange instead of 4 scans, 4 distinct exchanges and two
      // sort-merge set-op joins — 13 Exchange operators -> 3).
      val li = t(s, d, "lineitem").select(col("l_partkey"), col("l_suppkey"))
        .join(broadcast(t(s, d, "part")
          .where(col("p_brand").isin("Brand#1", "Brand#2"))
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
      li.groupBy(col("l_suppkey"))
        .agg(max(col("p_brand") === "Brand#1").as("in_a"),
          max(col("p_brand") === "Brand#2").as("in_b"))
        .where(col("in_a"))
        .select(col("l_suppkey"),
          when(col("in_b"), lit("both")).otherwise(lit("only_a")).as("op"))
        .orderBy(col("op"), col("l_suppkey"))
    }),
    "q08_heavy_hitters_exact" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 45)
        .orderBy(col("cnt").desc, col("l_partkey"))
    }),
    "q09_heavy_hitters_sketch" -> ((s, d) => {
      // k=4096 > |distinct l_partkey| => Misra-Gries is exact => must equal
      // the exact GROUP BY/HAVING. Exercises the full partial/merge/eval
      // TypedImperativeAggregate path across partitions.
      t(s, d, "lineitem")
        .agg(freq_sketch_topk(col("l_partkey"), 4096, 45L).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.key").as("l_partkey"), col("h.est").as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey"))
    }),
    "q10_countmin_point" -> ((s, d) => {
      // CountMin over l_suppkey (100 distinct, eps gives 4000 cols): point
      // estimates are exact for this cardinality — deterministic given the
      // frozen seed, cross-checked vs exact counts.
      val sk = t(s, d, "lineitem").agg(countmin_sketch(col("l_suppkey"), 0.0005, 0.01).as("sk"))
      t(s, d, "supplier").crossJoin(broadcast(sk))
        .select(col("s_suppkey"),
          countmin_estimate(col("sk"), col("s_suppkey")).as("cnt"))
        .orderBy(col("s_suppkey"))
    }),
    "q16_countmin_bounds" -> ((s, d) => {
      // conservative-update CountMin (Estan-Varghese) with the bounds
      // surface (reference CountMin.java:98-113,143-179). The sketch is
      // aggregated once, collected (one ~KB-scale value), and inlined as a
      // LITERAL: the probe side then decodes it once per task instead of
      // once per row — the plan shape for sketch-point-lookup at scale.
      val bytes = t(s, d, "lineitem")
        .agg(countmin_sketch(col("l_suppkey"), 0.0005, 0.01, conservative = true).as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      t(s, d, "supplier")
        .select(col("s_suppkey"),
          countmin_estimate(lit(bytes), col("s_suppkey")).as("est"),
          countmin_lower(lit(bytes), col("s_suppkey")).as("lb"),
          countmin_upper(lit(bytes), col("s_suppkey")).as("ub"))
        .orderBy(col("s_suppkey"))
    }),
    "q17_spacesaving" -> ((s, d) => {
      // SpaceSaving with s=4096 > |distinct l_partkey|: no eviction ever
      // happens, counts are exact, so the sketch must equal the exact
      // GROUP BY/HAVING (same contract as q09 for Misra-Gries; reference
      // notes the two summaries are isomorphic, SpaceSaving.java:41-42).
      t(s, d, "lineitem")
        .agg(spacesaving_topk(col("l_partkey"), 4096, 45L).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.key").as("l_partkey"), col("h.est").as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey"))
    }),
    "q18_countmin_topk" -> ((s, d) => {
      // CountMin-FE (reference CountMinFastFE): heavy-hitter ENUMERATION
      // from a linear sketch via update-time candidate tracking — no second
      // pass, for keyspaces too hot for Misra-Gries' O(k) table. eps=1e-5
      // keeps eps*streamLength (the tracking guarantee bound) well under
      // the 45 threshold at every sf, and the 7x200000-cell geometry has no
      // full-row collision at lineitem's partkey cardinality, so the output
      // must equal the exact GROUP BY/HAVING.
      t(s, d, "lineitem")
        .agg(countmin_topk(col("l_partkey"), 0.00001, 0.01, 45L).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h.key").as("l_partkey"), col("h.est").as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey"))
    }),
    "q11_sessions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        // epoch seconds WITH the microsecond fraction, matching DuckDB's
        // epoch(); unix_timestamp() truncates to whole seconds and
        // sessionizes gaps in (3600.0, 3601.0) differently. The parquet ts
        // is TIMESTAMP_NTZ (no double cast) — the session tz is UTC, so the
        // ntz->tz hop is exact and matches DuckDB's naive epoch().
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("double") -
              col("prev_ts").cast("timestamp").cast("double") > 3600d, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),
    "q12_rollup" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"))
        .orderBy(col("rflag"), col("lstatus"))
    }),
    "q13_median" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"))
        .orderBy(col("l_returnflag"))
    }),
    // ------------------------------------ training-data ops: documents
    "d01_dedup_exact" -> ((s, d) => {
      // group on the 16-byte binary digest, not the 32-char hex string —
      // bijective (same groups, and the key is dropped from the output),
      // halves the agg key bytes through the exchange
      t(s, d, "documents")
        .groupBy(unhex(md5(col("text").cast("binary"))).as("h"))
        .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("cnt"))
        .select(col("rep_doc_id"), col("cnt"))
        .orderBy(col("rep_doc_id"))
    }),
    "d02_ngram_jaccard" -> ((s, d) => {
      // exact overlap-join via PREFIX FILTERING (SSJoin / All-Pairs, public
      // results): with every doc's distinct tokens sorted in one global
      // order (document frequency asc, token asc), any pair with overlap
      // >= T shares at least one token among each side's first
      // (|toks| - T + 1) tokens — so candidates come from an inverted-index
      // join on PREFIX tokens only (the T-1 most common tokens of each doc,
      // i.e. the stopword mass that made the old lang-keyed a×b join
      // near-quadratic, never generate candidates), then the survivors are
      // verified with the exact intersection. Result set identical to the
      // naive join — the DuckDB oracle is unchanged.
      val T = 15
      // tokenize ONCE: the token arrays feed four consumers (the df table,
      // the prefix join's stream side, and both verify lookups) — without a
      // pin each consumer re-ran the split/lower/distinct pass over every
      // document. localCheckpoint (not persist) on purpose: it caches by
      // RDD identity, so a later invocation of this query builder gets a
      // fresh computation — no cross-run result caching; the eager
      // materialization itself runs inside the timed window.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          array_distinct(split(lower(col("text")), " ")).as("toks"))
        .localCheckpoint(true)
      val exploded = docs.select(col("doc_id"), col("lang"),
        size(col("toks")).as("ntok"), explode(col("toks")).as("tok"))
      val dfTab = exploded.groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("df"))
      val prefix = exploded.join(dfTab, Seq("lang", "tok"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
        .where(col("rn") <= col("ntok") - (T - 1))
        .select(col("doc_id"), col("lang"), col("tok"))
      val cand = prefix.where(col("doc_id") % 50 === 0)
        .select(col("lang"), col("tok"), col("doc_id").as("a_id"))
        .join(prefix.select(col("lang"), col("tok"), col("doc_id").as("b_id")),
          Seq("lang", "tok"))
        .where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"))
        // pair dedup at an explicitly pinned width: the pair rows are tiny
        // in bytes but each costs an array_intersect over the full token
        // arrays downstream, so AQE's byte-based coalescing would serialize
        // the verify onto one task (measured: two 1-task stages of ~13 and
        // ~11 cpu-sec; the sort's sample pass re-executes the verify
        // chain). repartition-by-key (REPARTITION_BY_NUM — exempt from
        // coalescing) already satisfies the dedup agg's required
        // distribution, so dropDuplicates adds NO second exchange — one
        // shuffle of the pair set, width from the session conf, not a const.
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
          col("a_id"), col("b_id"))
        .dropDuplicates()
      val aT = docs.select(col("doc_id").as("a_id"), col("toks").as("a_toks"))
      val bT = docs.select(col("doc_id").as("b_id"), col("toks").as("b_toks"))
      cand.join(aT, "a_id").join(bT, "b_id")
        .withColumn("inter", size(array_intersect(col("a_toks"), col("b_toks"))))
        .where(col("inter") >= T)
        .select(col("a_id"), col("b_id"), col("inter"),
          (size(col("a_toks")) + size(col("b_toks")) - col("inter")).as("uni"))
        // pin the verified pairs before the global sort: the range
        // exchange's boundary-sampling pass executes its child in a
        // separate job, so without the pin the whole candidate+verify
        // chain (the query's dominant cost) runs TWICE per invocation.
        // localCheckpoint, not persist, for the same cross-run-safety
        // reason as the tokenize pin above.
        .localCheckpoint(true)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "d03_minhash_clusters" -> ((s, d) => {
      // the dedup pipeline itself on the documents table; the oracle is the
      // brute-force O(n²) clustering (same frozen predicate) persisted for
      // the driver's DuckDB to read back — a hard pipeline-vs-oracle gate
      val docsRaw = t(s, d, "documents")
      OracleDump.docClustersExpected(s, docsRaw, s"${OracleDump.dir}/d03")
      val docs = docsRaw
        .select(col("doc_id").cast("string").as("clip_id"), col("text").as("transcript"))
      DedupPipeline.run(docs, DedupConfig.default)
        .select(col("clip_id").cast("long").as("doc_id"), col("cluster"), col("is_rep"))
        .orderBy(col("doc_id"))
    }),
    "d04_lang_id" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), lang_id(col("text")).as("pred_lang"))
        // pin before the sort (range-sampling would re-run the text scan)
        .localCheckpoint(true)
        .orderBy(col("doc_id"))
    }),
    "d05_token_stats" -> ((s, d) => {
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      t(s, d, "documents")
        .select(col("doc_id"),
          size(split(norm, " ")).as("n_tokens"),
          regexp_count(norm, lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_bpe_tokens"),
          length(norm).as("n_chars_norm"))
        // pin the narrow computed rows before the sort: the range
        // exchange's sampling job re-executes its child, which here is
        // the full text scan + the regex projection (the whole query)
        .localCheckpoint(true)
        .orderBy(col("doc_id"))
    }),
    "q14_distinct" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag"))
    }),
    "d06_quality_score" -> ((s, d) => {
      // rows-only: blended heuristic is intentionally engine-side
      t(s, d, "documents")
        .select(col("doc_id"), quality_score(col("text")).as("q"),
          lang_id(col("text")).as("pred_lang"))
        .where(col("q") >= 0.5)
        // pin before the sort (range-sampling would re-run scan + scoring)
        .localCheckpoint(true)
        .orderBy(col("doc_id"))
    }),
    "d07_fingerprint_groups" -> ((s, d) => {
      t(s, d, "documents")
        .groupBy(doc_fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("group_size"))
    }),
    // ------------------------------------------- similarity search
    "e01_knn_exact" -> ((s, d) => {
      val vecs = t(s, d, "embeddings")
      val queries = vecs.where(col("vec_id") % 10 === 0)
      Ann.bruteForceTopK(queries, vecs, 3)
        .select(col("vec_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("vec_id"), col("rank"))
    }),
    "e02_knn_lsh" -> ((s, d) => {
      // driver-checked recall contract (recallChecked); AnnSpec
      // additionally enforces the floor in sbt
      val vecs = t(s, d, "embeddings")
      // LSH parameters are GEOMETRY-driven: this table's exact top-3 sit at
      // cosine ~0.34 (unclustered — measured), so hitting the recall floor
      // needs short signatures and many tables (candidate mass ~the whole
      // 500-row table; no sublinear method beats that regime). A corpus with
      // planted near-duplicates (cos >= 0.9) uses 16 planes x 8 tables and
      // keeps candidates ~1e-3 of all pairs at 0.99+ recall — measured at
      // 1M vectors in the bench's ANN block.
      val lshTopK = Ann.lshTopK(vecs, 3, planesPerTable = 4, tables = 16)
        .select(col("vec_id"), col("neighbor_id"), col("rank"))
      recallChecked(s, lshTopK, vecs, vecs, "e02_lsh")
    }),
    "e04_knn_ivf" -> ((s, d) => {
      // IVF cell-probe ANN with the same cross-verified recall contract as
      // e02 (recallChecked).
      val vecs = t(s, d, "embeddings")
      val queries = vecs.where(col("vec_id") % 10 === 0)
      // nprobe/nlist = 5/8 of the cells: like e02, this table's neighbors
      // are low-cosine (unclustered), so the probe set must cover most of
      // the space to meet the floor; a planted-cluster corpus runs 32/1024
      // (3% of cells) at recall 1.0 — measured at 1M vectors in the bench.
      val ivfTopK = Ann.ivfTopK(queries, vecs, 3, nlist = 32, nprobe = 20)
        .select(col("vec_id"), col("neighbor_id"), col("rank"))
      recallChecked(s, ivfTopK, queries, vecs, "e04_ivf")
    }),
    "e03_cosine_neardup" -> ((s, d) => {
      // embedding-cosine near-duplicate pairs (threshold on the rounded
      // similarity so both engines compare identical 3-decimal values)
      val vecs = t(s, d, "embeddings")
      val a = vecs.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
      val b = vecs.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
      a.crossJoin(broadcast(b))
        .where(col("a_id") < col("b_id"))
        .withColumn("sim_r3", round(cosine_sim(col("a_emb"), col("b_emb")), 3))
        .where(col("sim_r3") >= 0.45)
        .select(col("a_id"), col("b_id"), col("sim_r3"))
        // pin before the sort: the range exchange's sampling job would
        // otherwise re-execute the whole cosine cross-join a second time
        .localCheckpoint(true)
        .orderBy(col("a_id"), col("b_id"))
    }),
    "q15_cube" -> ((s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus"))
    }),
    "d08_simhash_groups" -> ((s, d) => {
      // SimHash Hamming-block bucket histogram over documents; oracle = the
      // same histogram from a sequential Scala pass, persisted for DuckDB
      // (checks the distributed explode/groupBy plumbing); the bucket-size
      // distribution is the skew diagnostic the salting machinery consumes
      OracleDump.simhashHistExpected(s, t(s, d, "documents"), s"${OracleDump.dir}/d08")
      t(s, d, "documents")
        .select(explode(simhash_block_keys(simhash64(col("text")))).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size")).agg(count(lit(1)).as("n_groups"))
        .orderBy(col("group_size"))
    }),
    "d09_audio_dup_groups" -> ((s, _) => {
      // audio-CONTENT dedup lane: clips clustered by waveform (spectral
      // fingerprint buckets -> verified pairs -> CC), independent of their
      // transcripts/codec/gain. Oracle = sequential O(n^2) evaluation of the
      // same frozen predicate + union-find, persisted for DuckDB — a hard
      // assignment gate on the whole distributed lane (bucketing is
      // recall-complete for the predicate by pigeonhole, so the edge sets
      // must match exactly)
      OracleDump.audioDupExpected(s, 500, s"${OracleDump.dir}/d09")
      val clips = CorpusGen.clipsCached(s, 500)
      graft.dedup.AudioDedup.run(clips)
        .select(col("clip_id"), col("cluster").as("audio_cluster"), col("is_rep"))
        .orderBy(col("clip_id"))
    }),
    "d10_embed_dup_clusters" -> ((s, d) => {
      // embedding-space near-dup CLUSTERING (e03 gives only the pair list):
      // hyperplane-LSH candidates through the shared skew-aware pair gen,
      // exact cosine>=t verify, CC, min-vec_id representative. Oracle =
      // O(n^2) exact cosine + union-find (same float arithmetic), persisted
      // for DuckDB — a hard assignment gate on the whole lane. The (4
      // planes x 32 tables) gate geometry makes candidate recall complete
      // at this threshold/scale (miss-all = 0.823^32 ~ 0.002/pair;
      // deterministic seeds make the green result stable); production
      // scales planesPerTable with log2(n) like e02/e04 (EmbedDedup doc).
      val vecs = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      OracleDump.embedClustersExpected(s, vecs, 0.45, s"${OracleDump.dir}/d10")
      graft.ann.EmbedDedup.clusters(vecs, threshold = 0.45)
        .orderBy(col("vec_id"))
    }),
    // ------------------------------------------- the dedup pipeline itself
    "p01_dedup_assignments" -> ((s, _) => {
      // flagship gate: pipeline assignments vs the persisted brute-force
      // oracle (independent O(n²) evaluation of the same frozen predicate)
      OracleDump.dedupAssignExpected(s, 1000, s"${OracleDump.dir}/p01")
      // pre-generated parquet corpus: the timed window covers the PIPELINE,
      // not audio synthesis + G.711 encode (VERDICT r2 #5)
      val clips = CorpusGen.clipsCached(s, 1000)
      DedupPipeline.run(clips, DedupConfig.default)
        .select(col("clip_id"), col("cluster"), col("rep_clip_id"), col("is_rep"))
        .orderBy(col("clip_id"))
    }),
    "p02_dedup_survivors" -> ((s, _) => {
      OracleDump.dedupSurvivorsExpected(s, 1000, s"${OracleDump.dir}/p02")
      val clips = CorpusGen.clipsCached(s, 1000)
      val assign = DedupPipeline.run(clips, DedupConfig.default)
      DedupPipeline.dedupOutput(clips, assign)
        .select(col("clip_id"), col("sr_hz"), col("dur_ms"), col("codec"))
        .orderBy(col("clip_id"))
    }),
    "p03_audio_stats" -> ((s, _) => {
      // multimodal lane: decode opaque binary audio per codec, aggregate
      // signal features. Oracle = plain-Scala sequential encode->decode->RMS
      // over the same corpus, persisted for DuckDB. min/max (not avg) keep
      // the floats free of summation-order effects.
      OracleDump.audioStatsExpected(s, 500, s"${OracleDump.dir}/p03")
      val clips = CorpusGen.clipsCached(s, 500)
      clips.select(col("codec"),
          size(pcm_decode(col("bytes"), col("codec"))).as("n_samples"),
          audio_rms(col("bytes"), col("codec")).as("rms"))
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_samples")).as("total_samples"),
          min(col("rms")).as("min_rms"),
          max(col("rms")).as("max_rms"))
        .orderBy(col("codec"))
    }),
    "p04_resume_assignments" -> ((s, _) => {
      // North-rule resumability as a driver-checked query (VERDICT r3 #2):
      // run the snapshot-checkpointed pipeline and KILL it after the first
      // committed CC round, then restart from the snapshot log and finish.
      // The resumed run's assignments must equal the independent brute-force
      // oracle — the same hard gate as p01, but reached through a
      // checkpoint→kill→resume lifecycle instead of one uninterrupted run.
      OracleDump.dedupAssignExpected(s, 1000, s"${OracleDump.dir}/p04")
      val clips = CorpusGen.clipsCached(s, 1000)
      val workDir = "/tmp/graft_p04_work"
      // fresh workDir per invocation: with committed snapshots left behind,
      // the "kill" would be a no-op read and nothing would be resumed
      deleteTree(java.nio.file.Paths.get(workDir))
      val killed = graft.dedup.CheckpointedDedup.run(
        clips, workDir, DedupConfig.default, stopAfter = Some("labels_round_0"))
      require(killed.isEmpty,
        "p04 kill hook did not fire: CC converged before round 0 committed")
      val resumed = graft.dedup.CheckpointedDedup.run(clips, workDir, DedupConfig.default)
        .getOrElse(sys.error("p04 resume returned no assignments"))
      resumed
        .select(col("clip_id"), col("cluster"), col("rep_clip_id"), col("is_rep"))
        .orderBy(col("clip_id"))
    }),
    "s01_stream_window" -> ((s, d) => {
      // Structured Streaming product surface (C11): file-source stream over
      // the events table, event-time tumbling window + watermark, per-window
      // count and top user via the Misra-Gries sketch aggregate running
      // across micro-batches (partial buffers merged by the streaming agg).
      // AvailableNow drains the bounded input and terminates; complete mode
      // emits every window (append would hold back windows the final
      // watermark never closes).
      val schema = t(s, d, "events").schema
      val streamDir = stageEvents(d, "s01", 11L)
      val stream = s.readStream.schema(schema).parquet(streamDir.toString)
      val agg = stream
        // watermarks require TIMESTAMP; the parquet ts is TIMESTAMP_NTZ and
        // the session tz is UTC, so the hop is exact
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"),
          freq_sketch_topk(col("user_id"), 4096, 1L).as("hh"))
      val sink = "s01_sink"
      runStream(s, agg, sink, "complete")
      s.table(sink)
        .select(col("w.start").cast("timestamp").cast("double").as("ws_epoch"),
          col("n_events"),
          element_at(col("hh"), 1).getField("key").as("top_user"))
        .orderBy(col("ws_epoch"))
    }),
    "s02_sessionize_stream" -> ((s, d) => {
      // Stateful streaming sessionization (flatMapGroupsWithState + event-
      // time timeout) as a driver-checked query: the events table streamed
      // through Sessionize, oracle = the batch gaps-and-islands SQL. A
      // per-user SENTINEL event far past the stream's end is appended to
      // the staged input so every real session closes via the gap-split
      // path (AvailableNow's final watermark alone would leave the last
      // session per user open and unemitted); the sentinel's own session
      // stays open and is naturally never emitted.
      val ev = t(s, d, "events")
      val schema = ev.schema
      val streamDir = stageEvents(d, "s02", 12L)
      val sentinelTarget = streamDir.resolve("sentinels.parquet")
      if (!java.nio.file.Files.exists(sentinelTarget)) {
        val tmp = s"${streamDir}_sentinels_tmp"
        ev.select(col("user_id")).distinct()
          .crossJoin(ev.agg(max(col("ts")).as("mx")))
          .select(lit(-1L).as("event_id"),
            (col("mx") + expr("INTERVAL 10 HOURS")).as("ts"),
            col("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("").as("props"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(part.toPath, sentinelTarget)
      }
      val stream = s.readStream.schema(schema).parquet(streamDir.toString)
      val sessions = graft.streaming.Sessionize.sessionizeDF(
        stream.select(col("user_id"), col("ts")), gapSec = 3600, watermark = "1 hour")
      val sink = "s02_sink"
      runStream(s, sessions, sink, "append")
      s.table(sink)
        .select(col("user_id"), col("start_ms"), col("end_ms"), col("n_events"))
        .orderBy(col("user_id"), col("start_ms"))
    })
  )

  private val langCase: String = {
    def score(ws: Seq[String]) =
      s"len(list_filter(string_split(norm, ' '), x -> x in (${ws.map(w => s"'$w'").mkString(",")})))"
    val en = score(Seq("the", "and", "of", "to", "in", "is", "that", "for"))
    val de = score(Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"))
    val fr = score(Seq("le", "la", "les", "et", "des", "est", "une", "dans"))
    val es = score(Seq("el", "los", "las", "es", "una", "por", "con", "para"))
    s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
       |sc AS (SELECT doc_id, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es FROM n)
       |SELECT doc_id,
       |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |       WHEN s_es > 0 THEN 'es'
       |       ELSE 'und' END AS pred_lang
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replication of [[graft.text.TextFeatures.qualityScore]] +
    * languageId — same formulas with IDENTICAL floating-point op order
    * (left-assoc mul-then-div, same parenthesization, same add order), so
    * both engines produce bit-identical doubles and the q >= 0.5 filter
    * selects identical rows. */
  private val d06Sql: String = {
    val allWords = graft.text.TextFeatures.langStopwords.flatMap(_._2)
      .map(w => s"'$w'").mkString(",")
    def score(ws: Seq[String]) =
      s"len(list_filter(toks, x -> x in (${ws.map(w => s"'$w'").mkString(",")})))"
    val bl = graft.text.TextFeatures.langStopwords.map { case (l, ws) => l -> score(ws) }.toMap
    s"""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
       |tk AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n),
       |sc AS (SELECT doc_id,
       |  least(1.0, len(toks) / 50.0) AS len_score,
       |  CASE WHEN length(norm) = 0 THEN 0.0 ELSE
       |    greatest(0.0, 1.0 - 4.0 * (CAST(len(regexp_extract_all(norm, '[^a-z0-9 ]')) AS DOUBLE) / length(norm))) END AS punct_score,
       |  least(1.0, (4.0 * len(list_filter(toks, x -> x in ($allWords)))) / greatest(1, len(toks))) AS stop_score,
       |  CASE WHEN len(toks) > 0 AND (CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END AS wl_score,
       |  length(norm) AS nlen,
       |  ${bl("en")} AS s_en, ${bl("de")} AS s_de, ${bl("fr")} AS s_fr, ${bl("es")} AS s_es
       | FROM tk),
       |qq AS (SELECT doc_id,
       |  CASE WHEN nlen = 0 THEN 0.0 ELSE 0.25 * (len_score + punct_score + stop_score + wl_score) END AS q,
       |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0 THEN 'en'
       |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
       |       WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
       |       WHEN s_es > 0 THEN 'es'
       |       ELSE 'und' END AS pred_lang
       | FROM sc)
       |SELECT doc_id, q, pred_lang FROM qq WHERE q >= 0.5 ORDER BY doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    // ---- engine-side semantics, oracled via persisted expected parquet
    // (computed by the independent brute-force/sequential reference path,
    // see OracleDump) which the driver's DuckDB reads back
    "p01_dedup_assignments" ->
      s"""SELECT clip_id, cluster, rep_clip_id, is_rep
         |FROM read_parquet('${OracleDump.dir}/p01/*.parquet') ORDER BY clip_id""".stripMargin,
    "p02_dedup_survivors" ->
      s"""SELECT clip_id, sr_hz, dur_ms, codec
         |FROM read_parquet('${OracleDump.dir}/p02/*.parquet') ORDER BY clip_id""".stripMargin,
    "p04_resume_assignments" ->
      s"""SELECT clip_id, cluster, rep_clip_id, is_rep
         |FROM read_parquet('${OracleDump.dir}/p04/*.parquet') ORDER BY clip_id""".stripMargin,
    "p03_audio_stats" ->
      s"""SELECT codec, n, total_samples, min_rms, max_rms
         |FROM read_parquet('${OracleDump.dir}/p03/*.parquet') ORDER BY codec""".stripMargin,
    "d03_minhash_clusters" ->
      s"""SELECT doc_id, cluster, is_rep
         |FROM read_parquet('${OracleDump.dir}/d03/*.parquet') ORDER BY doc_id""".stripMargin,
    "d09_audio_dup_groups" ->
      s"""SELECT clip_id, audio_cluster, is_rep
         |FROM read_parquet('${OracleDump.dir}/d09/*.parquet') ORDER BY clip_id""".stripMargin,
    "d10_embed_dup_clusters" ->
      s"""SELECT vec_id, cluster, is_rep
         |FROM read_parquet('${OracleDump.dir}/d10/*.parquet') ORDER BY vec_id""".stripMargin,
    "d08_simhash_groups" ->
      s"""SELECT group_size, n_groups
         |FROM read_parquet('${OracleDump.dir}/d08/*.parquet') ORDER BY group_size""".stripMargin,
    "e02_knn_lsh" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |ranked AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY round(list_cosine_similarity(a.emb, b.emb), 3) DESC, b.vec_id) AS rank
         |  FROM v a CROSS JOIN v b WHERE a.vec_id != b.vec_id),
         |exact AS (SELECT vec_id, neighbor_id FROM ranked WHERE rank <= 3),
         |lsh AS (SELECT vec_id, neighbor_id FROM read_parquet('${OracleDump.dir}/e02_lsh/*.parquet')),
         |c AS (SELECT (SELECT count(*) FROM exact) AS n_exact,
         |             (SELECT count(*) FROM exact e JOIN lsh l USING (vec_id, neighbor_id)) AS n_hits)
         |SELECT n_exact, n_hits,
         |  CAST(floor((10000.0 * n_hits) / n_exact) AS BIGINT) AS recall_bp,
         |  (floor((10000.0 * n_hits) / n_exact) >= 8000) AS meets_floor
         |FROM c""".stripMargin,
    "e04_knn_ivf" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |q AS (SELECT * FROM v WHERE vec_id % 10 = 0),
         |ranked AS (
         |  SELECT q.vec_id, b.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(list_cosine_similarity(q.emb, b.emb), 3) DESC, b.vec_id) AS rank
         |  FROM q CROSS JOIN v b WHERE q.vec_id != b.vec_id),
         |exact AS (SELECT vec_id, neighbor_id FROM ranked WHERE rank <= 3),
         |ivf AS (SELECT vec_id, neighbor_id FROM read_parquet('${OracleDump.dir}/e04_ivf/*.parquet')),
         |c AS (SELECT (SELECT count(*) FROM exact) AS n_exact,
         |             (SELECT count(*) FROM exact e JOIN ivf l USING (vec_id, neighbor_id)) AS n_hits)
         |SELECT n_exact, n_hits,
         |  CAST(floor((10000.0 * n_hits) / n_exact) AS BIGINT) AS recall_bp,
         |  (floor((10000.0 * n_hits) / n_exact) >= 8000) AS meets_floor
         |FROM c""".stripMargin,
    "d06_quality_score" -> d06Sql,
    "s01_stream_window" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS h, user_id, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT h, user_id, cnt,
        |        CAST(sum(cnt) OVER (PARTITION BY h) AS BIGINT) AS n_events,
        |        row_number() OVER (PARTITION BY h ORDER BY cnt DESC, user_id) AS rn
        |      FROM c)
        |SELECT epoch(h) AS ws_epoch, n_events, user_id AS top_user
        |FROM r WHERE rn = 1 ORDER BY ws_epoch""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_topn_revenue" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY 1 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q03_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q05_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_anti_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_setops" ->
      """WITH a AS (SELECT DISTINCT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#1'),
        |     b AS (SELECT DISTINCT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#2')
        |SELECT l_suppkey, 'both' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT l_suppkey, 'only_a' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |ORDER BY op, l_suppkey""".stripMargin,
    "q08_heavy_hitters_exact" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 HAVING count(*) >= 45 ORDER BY cnt DESC, l_partkey""".stripMargin,
    "q09_heavy_hitters_sketch" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 HAVING count(*) >= 45 ORDER BY cnt DESC, l_partkey""".stripMargin,
    "q10_countmin_point" ->
      """SELECT s_suppkey, (SELECT count(*) FROM lineitem WHERE l_suppkey = s_suppkey) AS cnt
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q17_spacesaving" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 HAVING count(*) >= 45 ORDER BY cnt DESC, l_partkey""".stripMargin,
    "q18_countmin_topk" ->
      """SELECT l_partkey, count(*) AS cnt FROM lineitem
        |GROUP BY 1 HAVING count(*) >= 45 ORDER BY cnt DESC, l_partkey""".stripMargin,
    "s02_sessionize_stream" ->
      // batch gaps-and-islands replication of the streaming sessionizer:
      // both engines compute gaps on floored epoch-milliseconds (Java
      // Timestamp.getTime and DuckDB epoch_ms both floor the us fraction)
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
        |b AS (SELECT user_id, t,
        |        CASE WHEN lag(t) OVER w IS NULL OR t - lag(t) OVER w > 3600000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |g AS (SELECT user_id, t,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |                       ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM b)
        |SELECT user_id, min(t) AS start_ms, max(t) AS end_ms,
        |       count(*) AS n_events
        |FROM g GROUP BY user_id, grp ORDER BY user_id, start_ms""".stripMargin,
    "q16_countmin_bounds" ->
      // 100 distinct suppliers vs 4000 columns: no cell collisions, so the
      // (conservative) estimate is exactly the true count, ub = est, and
      // lb = est - ceil(eps * streamLength) clamped at zero
      """WITH tot AS (SELECT CAST(ceil(0.0005 * count(*)) AS BIGINT) AS maxerr FROM lineitem),
        |c AS (SELECT s_suppkey,
        |        (SELECT count(*) FROM lineitem WHERE l_suppkey = s_suppkey) AS cnt
        |      FROM supplier)
        |SELECT s_suppkey, cnt AS est,
        |       greatest(0, cnt - (SELECT maxerr FROM tot)) AS lb, cnt AS ub
        |FROM c ORDER BY s_suppkey""".stripMargin,
    "q11_sessions" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 3600 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |          lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "q13_median" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "d01_dedup_exact" ->
      """SELECT min(doc_id) AS rep_doc_id, count(*) AS cnt FROM documents
        |GROUP BY md5(text) ORDER BY rep_doc_id""".stripMargin,
    "d02_ngram_jaccard" ->
      """WITH docs AS (SELECT doc_id, lang, list_distinct(string_split(lower(text), ' ')) AS toks FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  len(list_intersect(a.toks, b.toks)) AS inter,
        |  len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
        |FROM docs a JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE a.doc_id % 50 = 0 AND len(list_intersect(a.toks, b.toks)) >= 15
        |ORDER BY a_id, b_id""".stripMargin,
    "d04_lang_id" -> langCase,
    "d05_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS n_tokens,
        |  len(regexp_extract_all(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens,
        |  length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q14_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "d07_fingerprint_groups" ->
      """WITH g AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |                  count(*) AS group_size
        |           FROM documents GROUP BY 1)
        |SELECT group_size, count(*) AS n_groups FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus, count(*) AS cnt,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    "e03_cosine_neardup" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       round(list_cosine_similarity(a.emb, b.emb), 3) AS sim_r3
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.emb, b.emb), 3) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,
    "e01_knn_exact" ->
      """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings WHERE vec_id % 10 = 0),
        |     b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS emb FROM embeddings)
        |SELECT vec_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id, b.neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.emb, b.emb), 3) DESC, b.neighbor_id) AS rank
        |  FROM q CROSS JOIN b WHERE q.vec_id != b.neighbor_id)
        |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin
  )
}

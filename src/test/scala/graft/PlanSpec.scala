package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SessionScratch.rmTree

/** Physical-plan assertions: the properties that make these operators hold
  * at 100 TB must survive refactors, so they're pinned here — filters reach
  * the parquet scan, projections prune the read schema, dimension joins
  * broadcast, aggregates split partial/final (SURVEY.md §4: all delegated
  * to Catalyst, verified rather than hand-built).
  */
class PlanSpec extends AnyFunSuite with StagingScope {

  lazy val spark: SparkSession = SparkTestSession.get
  val dir = "/root/testdata/sf0.01"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("sieve pushes the predicate into the parquet scan") {
    val p = plan("q_sieve")
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_totalprice"),
      s"predicate not pushed:\n$p")
  }

  test("projection prunes the read schema") {
    val p = plan("q_select")
    // only the 3 selected customer columns are read
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>"),
      s"columns not pruned:\n$p")
  }

  test("singular navigation joins broadcast the parent") {
    val p = plan("q_join_singular")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("linked aggregate splits partial/final hash aggregation") {
    val p = plan("q_join_plural_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial+final aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"join-back not broadcast:\n$p")
  }

  test("global sort+limit plans as TakeOrderedAndProject") {
    val p = plan("q_limit")
    assert(p.contains("TakeOrderedAndProject"), s"limit not fused with sort:\n$p")
  }

  test("language-front-end plans get the same pushdown") {
    val p = spark.sessionState.executePlan(
      Graft(spark, dir).query("/orders?o_totalprice>400000{o_orderkey}").queryExecution.logical
    ).executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(o_totalprice"),
      s"language sieve not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"language projection not pruned:\n$p")
  }

  test("surviving-selection sieve still pushes down and prunes") {
    // the round-4 decorated-selection model must not cost plan quality: a
    // sieve on an UN-selected base column after `{…}` still reaches the
    // scan as a pushed filter, and the scan reads only the two live columns
    val p = spark.sessionState.executePlan(
      Graft(spark, dir).query("/customer{c_custkey}?c_acctbal>0").queryExecution.logical
    ).executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(c_acctbal"),
      s"post-selection sieve not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_acctbal:double>"),
      s"post-selection scan not pruned:\n$p")
  }

  /** Spark jobs started on this thread while `body` runs. The listener bus
    * delivers asynchronously, so a sentinel job run after `body` marks the
    * end: once its start arrives, every earlier start has.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.planspec.phase"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(tag)).orNull match {
          case "body" => counted.incrementAndGet()
          case "sentinel" => sentinel.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = body
      sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinel.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the sentinel job never reached the listener")
      (out, counted.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("a query over tables the session has resolved plans with zero Spark jobs") {
    import graft.lang.{Parser, Planner}
    val tmp = java.nio.file.Files.createTempDirectory("graft_plan_jobs").toString
    try {
      // one mount per format over the same two tables; a csv or json table
      // is one file, as the mounts expect
      def single(n: String, fmt: String, ext: String)(write: String => Unit): Unit = {
        write(s"$tmp/$fmt/${n}_dir")
        val part = new java.io.File(s"$tmp/$fmt/${n}_dir").listFiles()
          .find(_.getName.endsWith(s".$fmt")).get
        java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$tmp/$fmt/$n.$ext"))
      }
      Seq("region", "nation").foreach { n =>
        val df = spark.read.parquet(s"$dir/$n.parquet").coalesce(1)
        df.write.parquet(s"$tmp/parquet/$n.parquet")
        single(n, "csv", "csv")(df.write.option("header", "true").csv)
        single(n, "json", "jsonl")(df.write.json)
      }
      val expected = spark.read.parquet(s"$dir/nation.parquet")
        .filter("n_regionkey > 3").collect().map(_.getAs[String]("n_name")).toSet
      for (fmt <- Seq("parquet", "csv", "json")) {
        def plan(text: String): DataFrame =
          new Planner(spark, s"$tmp/$fmt", graft.model.Catalog.default, fmt)
            .planQuery(Parser.parse(text))
        val (_, first) = jobsDuring(plan("/region{r_name, count(nation)}"))
        assert(first > 0, s"$fmt: resolving a new mount started no job, so none is counted")
        val (again, jobs) = jobsDuring(plan("/nation?n_regionkey>3{n_name, region.r_name}"))
        assert(jobs == 0, s"$fmt: planning over resolved tables started $jobs Spark jobs")
        // the reused scan still takes the new query's literal as a pushed filter
        val p = again.queryExecution.executedPlan.toString
        assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
          l.contains("GreaterThan(n_regionkey,3)")), s"$fmt: sieve not pushed:\n$p")
        assert(again.collect().map(_.getString(0)).toSet == expected, fmt)
      }
    } finally rmTree(tmp)
  }

  test("minhash candidate generation shuffles ids only, never shingles") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = graft.operators.Dedup.shingleFrame(docs, "doc_id", "text", 3)
      .withColumn("sig", graft.operators.Dedup.minhashSignature(col("sh"), 16))
    val cand = graft.operators.Dedup.minhashCandidates(base, 16, 4)
    assert(cand.columns.toSeq == Seq("id_a", "id_b"))
    // the band join's renamed outputs sh_a/sh_b would only exist if shingle
    // arrays were carried through the candidate exchange (the r01 defect)
    val p = cand.queryExecution.executedPlan.toString
    assert(!p.contains("sh_a") && !p.contains("sh_b"),
      s"shingle arrays ride the candidate shuffle:\n$p")
  }

  test("repeated-window removal shuffles digests and positions, never window text") {
    val df = SparkEntry.queries("q_dedup_substring")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(l => !l.contains("win#") && !l.contains("text")),
      s"window text rides a shuffle:\n${shuffles.mkString("\n")}")
  }

  test("keep-first segment dedup partitions by digest and id, never segment text") {
    val df = SparkEntry.queries("q_dedup_segment")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.nonEmpty)
    assert(shuffles.forall(l => !l.contains("chunk_text") && !l.contains("text")),
      s"segment text keys a shuffle:\n${shuffles.mkString("\n")}")
    // the winner/keep/summary stages see only (id, chunk_id, fp): every
    // aggregate in the plan keys on digests or ids, never segment text
    val aggs = p.linesIterator.filter(_.contains("HashAggregate")).toSeq
    assert(aggs.nonEmpty && aggs.forall(l => !l.contains("chunk_text")),
      s"segment text reaches an aggregate:\n${aggs.mkString("\n")}")
  }

  test("exact-k hash sample plans as per-partition top-k") {
    val p = plan("q_sample_exactk")
    assert(p.contains("TakeOrderedAndProject"),
      s"exact-k sample did not plan as top-k:\n$p")
  }

  test("ngram pair generation shuffles 8-byte digests, never shingle strings") {
    val df = SparkEntry.queries("q_dedup_ngram")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.forall(l => !l.contains("shingle")),
      s"shingle strings ride a shuffle:\n${shuffles.mkString("\n")}")
  }

  test("decontamination broadcasts the benchmark shingles; corpus never shuffles strings") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark side not broadcast:\n$p")
    // allowed exchanges: (doc_id, count) aggregation shuffles, plus exactly
    // ONE shingle exchange — the BENCHMARK side's distinct(), which is the
    // small broadcast build input. A second shingle exchange would mean the
    // corpus side shuffles its strings (the defect this pin prevents).
    val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.count(_.contains("shingle")) <= 1,
      s"corpus shingle strings ride a shuffle:\n${shuffles.mkString("\n")}")
    assert(shuffles.forall(l => !l.contains("text")),
      s"corpus text rides a shuffle:\n${shuffles.mkString("\n")}")
  }

  test("repetition and text-stat metrics read staged attributes, not inline tokenizers") {
    // the lambda-staging rule: the final projection's transform/filter/
    // aggregate lambdas must reference the persisted columns (toks/g2/g3),
    // never a split() of the raw text — the cache boundary must exist AND
    // no tokenizer may survive above it in the consuming plan
    for (key <- Seq("q_quality_rep", "q_text_stats")) {
      val df = SparkEntry.queries(key)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      val boundary = p.indexOf("InMemoryTableScan")
      assert(boundary >= 0, s"$key: stage not materialized:\n$p")
      // the tokenizer may only appear BELOW the cache boundary (inside the
      // cached relation's build plan); any split() above it means a lambda
      // re-inlined the tokenizer into the consuming projection
      assert(!p.substring(0, boundary).contains("split("),
        s"$key: a tokenizer re-inlined above the cache boundary:\n$p")
    }
  }

  test("detached aggregate broadcasts one global row, no per-row subquery") {
    val p = plan("q_htsql_attach")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"detached aggregate not broadcast:\n$p")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    import org.apache.spark.sql.functions.col
    import graft.sources.Bucketing
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    // the catalog is in-memory per JVM but the warehouse dir persists —
    // drop both the entry and the stale location before rewriting
    Seq("li_bucketed", "o_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Bucketing.writeBucketed(li, "li_bucketed", Seq("l_orderkey"), 8)
    Bucketing.writeBucketed(o, "o_bucketed", Seq("o_orderkey"), 8)
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed join still shuffles — bucket metadata not used:\n$p")
  }

  test("sequence packing plans one shard exchange and a running window") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.operators.Packing.packByBudget(docs, "doc_id", "text",
      budget = 512, shards = 8)
    df.collect()
    // AQE echoes the initial plan after the final one — count exchanges
    // in the FINAL section only
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    assert(p.contains("Window"), s"no window:\n$p")
    // exactly ONE exchange: the hash partitioning on the shard key (the
    // running sum evaluates streamingly inside each sorted partition)
    assert("Exchange".r.findAllIn(p).size == 1, s"extra exchanges:\n$p")
  }

  test("split assignment fuses into the scan (no exchange at all)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = docs.select(col("doc_id"),
      graft.operators.Sampling.assignSplit(
        graft.operators.TextAnalysis.fingerprint(col("text")), 0.98, 0.01).as("split"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"split should be shuffle-free:\n$p")
  }

  test("ETL merge broadcasts the change set; the table side never shuffles") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cur = spark.read.parquet(s"$dir/region.parquet")
    val src = Seq((0, "X"), (99, "Y")).toDF("r_regionkey", "r_name")
    val df = graft.sources.Etl.mergedState(cur, src, Seq("r_regionkey"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"merge not a broadcast anti join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"table side shuffled:\n$p")
  }

  test("incremental dedup queries broadcast the delta; index stores never shuffle") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val work = java.nio.file.Files.createTempDirectory("graft_incplan_").toString
    try {
      graft.operators.IncrementalDedup.buildIndex(
        docs.filter(col("doc_id") % 4 =!= 0), "doc_id", "text", work)
      val df = graft.operators.IncrementalDedup.newBatchPairs(
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", work,
        jaccardThreshold = 0.2)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // every corpus-store consumer is a broadcast hash join against the
      // delta: candidate cross + inner joins, and the LeftSemi store prune
      assert(p.contains("BroadcastHashJoin"), s"no broadcast joins:\n$p")
      assert(p.contains("LeftSemi"), s"store prune not a semi join:\n$p")
      // the defect this pins out: the v1 plan shuffle-joined the band
      // store — band_sig rode an Exchange. Candidate/verify frames may
      // shuffle (they are delta/candidate-sized); the index scans may not.
      val shuffles = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(shuffles.forall(l => !l.contains("band_sig")),
        s"band store rides a shuffle:\n${shuffles.mkString("\n")}")
    } finally rmTree(work)
  }

  test("corpus-comparison plans: digests and buckets shuffle, never payloads") {
    // q_dsir: the ratio table must BROADCAST onto the gram stream (a
    // shuffled join here would re-exchange the corpus-sized stream), and
    // no exchange may carry document text
    locally {
      val p = plan("q_dsir")
      assert(p.contains("BroadcastHashJoin"), s"dsir rates not broadcast:\n$p")
      val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(shuffles.forall(l => !l.contains("text")),
        s"document text rides a dsir shuffle:\n${shuffles.mkString("\n")}")
    }
    // q_corpus_overlap: the only hashpartitioning exchange is the 8-byte
    // digest groupBy — text never shuffles
    locally {
      val p = plan("q_corpus_overlap")
      val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(shuffles.nonEmpty && shuffles.forall(l =>
        l.contains("fp#") && !l.contains("text")),
        s"overlap shuffles more than digests:\n${shuffles.mkString("\n")}")
    }
    // q_drift_embed: vectors bit-pack to buckets BELOW the exchange — the
    // embedding array must never ride a shuffle
    locally {
      val p = plan("q_drift_embed")
      val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(shuffles.forall(l => !l.contains("embedding")),
        s"embedding arrays ride a drift shuffle:\n${shuffles.mkString("\n")}")
    }
    // drift summaries: exchanges carry the distinct-gram tables (strings,
    // vocabulary-sized — allowed), never raw document text
    for (key <- Seq("q_drift", "q_drift_summary", "q_drift_incremental")) {
      val p = plan(key)
      val shuffles = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(shuffles.forall(l => !l.contains("text#")),
        s"$key: document text rides a shuffle:\n${shuffles.mkString("\n")}")
    }
  }

  test("plan lint: no query plans a raw cartesian product") {
    // Broadcast-nested-loop over a 1-row/broadcast side is fine (detached
    // aggregates, kNN query broadcast); an unbroadcast CartesianProduct is
    // the O(n²) smell that only shows up at scale.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, dir).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("whole-stage codegen covers the scalar function kit") {
    // AQE shows codegen spans only in the final (post-execution) plan
    val df = SparkEntry.queries("q_fn_string")(spark, dir)
    df.collect() // count() would build a different QueryExecution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen span:\n$p")
  }

  test("chunking is exchange-free: pure per-row generate, no shuffle") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.TextAnalysis.chunkByTokens(
      new graft.model.Tables(spark, dir).documents, "doc_id", "text", 24, 16)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking shuffled:\n$p")
    assert(p.contains("Generate"), s"no generator in plan:\n$p")
  }

  test("epoch plan is exchange-free per-row compute") {
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Sampling.epochPlan(
      new graft.model.Tables(spark, dir).documents,
      graft.operators.TextAnalysis.fingerprint(col("text")), col("lang"),
      Map("en" -> 1.5, "de" -> 2.0))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"epoch plan shuffled:\n$p")
  }

  test("fuzzy decontamination broadcasts the benchmark side only") {
    import org.apache.spark.sql.functions.col
    val t = new graft.model.Tables(spark, dir)
    val docs = t.documents
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val df = graft.operators.Decontaminate.fuzzyContaminationPairs(
      docs, "doc_id", "text", bench, "doc_id", "text")
    df.collect() // AQE: finalize the plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side sort-merge join (bench must broadcast):\n$p")
  }

  test("LM scoring model tables join as broadcasts at gate scale") {
    val df = SparkEntry.queries("q_lm_score")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // vocabulary-sized tables (uni/cu/big) + the one-row total: all
    // broadcast at this scale; the corpus side never sort-merge-joins
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
  }

  test("BM25 is map-side scoring: no token explode, top-k as TakeOrdered") {
    val df = SparkEntry.queries("q_bm25")(spark, dir)
    df.collect() // AQE: finalize
    val p = df.queryExecution.executedPlan.toString
    // tf/dl are per-row array scans — no (doc, token) Generate/explode and
    // no doc-keyed exchange; the only shuffles serve the one-row stats agg
    assert(!p.contains("Generate"), s"token explode in the BM25 plan:\n$p")
    val shuffles = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.isEmpty, s"doc-keyed exchange:\n${shuffles.mkString("\n")}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k did not plan as TakeOrdered:\n$p")
  }

  test("postings-index top-k pushes the In(token) filter to the parquet scan") {
    val df = SparkEntry.queries("q_bm25_index_topk")(spark, dir)
    df.collect() // AQE: finalize (and SessionScratch builds the store)
    val p = df.queryExecution.executedPlan.toString
    // the query reads the q terms' postings, not the store: the In filter
    // reaches the scan (token-clustered files prune at row-group level)
    assert(p.contains("PushedFilters") && p.contains("In(token"),
      s"token In-filter not pushed to the postings scan:\n$p")
    // and the CORPUS is nowhere in this plan — no documents.parquet scan,
    // no tokenizer: the whole point of the index route
    assert(!p.contains("documents.parquet"),
      s"postings route still scans the corpus:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k did not plan as TakeOrdered:\n$p")
  }

  test("phrase matches push the In(token) filter; no corpus in the plan") {
    val df = SparkEntry.queries("q_phrase_index")(spark, dir)
    df.collect() // AQE: finalize (and SessionScratch builds the store)
    val p = df.queryExecution.executedPlan.toString
    // the probe reads the phrase tokens' position rows only
    assert(p.contains("PushedFilters") &&
      (p.contains("In(token") || p.contains("EqualTo(token")),
      s"token filter not pushed to the positions scan:\n$p")
    assert(!p.contains("documents.parquet"),
      s"phrase route still scans the corpus:\n$p")
  }

  test("gram-postings decontamination never touches the corpus") {
    val df = SparkEntry.queries("q_decontaminate_index")(spark, dir)
    df.collect() // AQE: finalize (and SessionScratch builds the store)
    val p = df.queryExecution.executedPlan.toString
    // the audit reads the 16 B/row gram store against the broadcast
    // benchmark hashes — the corpus text is nowhere in this plan (the
    // benchmark side reads documents.parquet, but only the % 97 slice:
    // the pushed filter proves the corpus-wide scan is gone)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"benchmark gram set did not broadcast:\n$p")
    val corpusScans = p.linesIterator.filter(l =>
      l.contains("documents.parquet") && !l.contains("doc_id")).toSeq
    assert(p.contains("(doc_id"),
      s"the benchmark slice filter is not pushed:\n$p")
    assert(corpusScans.isEmpty,
      s"unfiltered corpus scan in the audit plan:\n${corpusScans.mkString("\n")}")
  }

  test("IVF-cell probe pushes the In(cell) filter; corpus vectors stay out of the plan") {
    val df = SparkEntry.queries("q_ann_ivf_index")(spark, dir)
    df.collect() // AQE: finalize (and SessionScratch builds the store)
    val p = df.queryExecution.executedPlan.toString
    // the probe reads the nprobe cells' rows only: the cell In-filter
    // reaches the cell-clustered parquet scan (row-group pruning)
    assert(p.contains("PushedFilters") && p.contains("In(cell"),
      s"cell In-filter not pushed to the cells scan:\n$p")
    // the query side broadcasts (bounded by construction); the store
    // side never shuffles on a join key
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"query probes did not broadcast:\n$p")
  }

  test("batched BM25 shares one corpus pass across all queries") {
    val df = SparkEntry.queries("q_bm25_batch")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // query-side frames (terms, per-query map, df, stats) all broadcast;
    // the corpus never sort-merge-joins
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"query frames not broadcast:\n$p")
  }

  test("cluster assignment is one kernel pass + a k-group aggregate") {
    val df = SparkEntry.queries("q_cluster_assign")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the centroid matrix rides the kernel as a reference object and the
    // id->vector side is a k-row broadcast: the corpus never sort-merge-joins
    assert(!p.contains("SortMergeJoin"), s"corpus-side SMJ:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"centroid frame not broadcast:\n$p")
    // exchanges carry only the k-group aggregate (+ the bounded sort), no
    // vector payloads: no hashpartitioning exchange lists the vec column
    val shuffles = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(shuffles.forall(l => !l.contains("vec")),
      s"vectors ride a shuffle:\n${shuffles.mkString("\n")}")
  }

  // ---- the execution-mode rule (graft.Execution): plans under the input-size
  // bound run on the session's interpreted twin, plans at or past it on the
  // session itself, compiled; both modes answer alike

  private def interpretedConf(s: SparkSession): Boolean =
    s.conf.get("spark.sql.codegen.wholeStage") == "false" &&
      s.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN"

  test("the decision: under the bound runs interpreted, at or past it compiled") {
    val b = Execution.InterpretBelowBytes
    assert(Execution.interprets(b - 1) && !Execution.interprets(b))
    val twin = Execution.sessionFor(spark, b - 1)
    assert((twin ne spark) && interpretedConf(twin))
    assert(Execution.sessionFor(spark, b) eq spark)
    assert(!interpretedConf(spark), "the base session keeps Spark's compiled path")
    assert(Execution.interpreted(twin) eq twin, "the twin of a twin is itself")
    assert(Execution.interpreted(spark) eq twin, "one twin per session")
    // the same plan, on each side of the rule
    val q = (s: SparkSession) => s.read.parquet(s"$dir/orders.parquet")
      .filter("o_totalprice > 200000").groupBy("o_orderstatus").count()
    assert(!WholeStage(q(twin)), "the interpreted plan compiled")
    assert(WholeStage(q(Execution.sessionFor(spark, b))), "the compiled plan has no codegen")
    assert(q(twin).collect().toSet == q(spark).collect().toSet)
  }

  test("the twin follows the base session's runtime conf") {
    val key = "spark.sql.files.maxRecordsPerFile"
    try {
      spark.conf.set(key, "12345")
      assert(Execution.interpreted(spark).conf.get(key) == "12345")
      spark.conf.unset(key)
      assert(Execution.interpreted(spark).conf.get(key) == spark.conf.get(key))
    } finally spark.conf.unset(key)
  }

  test("Planner: tables under the bound plan interpreted, tables past it compiled") {
    val g = Graft(spark, dir)
    // the bound between region (a few hundred bytes) and lineitem (~1 MB)
    Execution.bound.withValue(64L << 10) {
      val small = g.query("/region{r_regionkey, r_name}")
      assert(interpretedConf(small.sparkSession))
      assert(!WholeStage(small))
      val large = g.query("/lineitem?l_orderkey<200{l_orderkey, order.o_orderpriority}")
      assert(large.sparkSession eq spark, "past the bound the query re-binds on the session")
      assert(WholeStage(large), "past the bound, no WholeStageCodegen")
    }
  }

  test("topKFromIndex reads a small index on the interpreted twin") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mode_post").toString
    try {
      val docs = Seq(1L -> "alpha beta", 2L -> "beta gamma", 3L -> "gamma delta")
        .toDF("doc_id", "text")
      graft.operators.Retrieval.buildPostingsIndex(docs, "doc_id", "text", root)
      val small = graft.operators.Retrieval.topKFromIndex(spark, root, Seq("beta"), 2)
      assert(interpretedConf(small.sparkSession))
      val large = Execution.bound.withValue(0L) {
        graft.operators.Retrieval.topKFromIndex(spark, root, Seq("beta"), 2)
      }
      assert(large.sparkSession eq spark)
      assert(small.collect().toSeq == large.collect().toSeq)
    } finally graft.queries.SessionScratch.rmTree(root)
  }

  // the benchmark's 16 HTSQL templates (perfbench/workloads.py), one
  // literal draw each, chosen for the sf0.01 fixtures
  private val templates = Seq(
    "/orders?o_totalprice>300000{o_orderkey, o_custkey, o_totalprice}.sort(o_orderkey)",
    "/customer?c_nationkey=7{c_custkey, c_name, r_name := nation.region.r_name}.sort(c_custkey)",
    "/nation?n_regionkey=2{n_nationkey, n_name, n_cust := count(customer)}.sort(n_nationkey)",
    "/customer?c_nationkey=7{c_custkey, n_big := count(orders?o_totalprice>300000)}.sort(c_custkey)",
    "/region?r_regionkey>=1{r_regionkey, n_cust := count(nation.customer), " +
      "avg_bal := avg(nation.customer.c_acctbal)}.sort(r_regionkey)",
    "/(orders?o_orderstatus='F'^o_orderpriority){o_orderpriority, n_orders := count(^), " +
      "sum_price := sum(^.o_totalprice)}.sort(o_orderpriority)",
    "/{n_regions := count(region), n_big := count(orders?o_totalprice>300000), " +
      "total := sum(orders.o_totalprice)}",
    "/customer?c_nationkey=7&exists(orders?o_totalprice>300000){c_custkey, c_name}.sort(c_custkey)",
    "/customer?c_nationkey=7&!exists(events){c_custkey, c_name}.sort(c_custkey)",
    "/orders.define(net := o_totalprice*0.95)?net>285000{o_orderkey, net}.sort(o_orderkey)",
    "/customer?c_nationkey=7{c_custkey, n_big := given(count(orders?o_totalprice>$cap), " +
      "cap := 300000)}.sort(c_custkey)",
    "/region{r_regionkey, r_name, n_here := count(nation), n_all := count(@nation), " +
      "n_big_orders := count(@orders?o_totalprice>300000)}.sort(r_regionkey)",
    "/customer{c_custkey, seg := c_mktsegment}?c_acctbal>3000&nation.region.r_name='ASIA'" +
      ".sort(c_custkey)",
    "/part?p_size=20{p_partkey, p_name, p_retailprice}.sort(p_retailprice-, p_partkey).limit(10)",
    "/lineitem?l_orderkey<200{l_orderkey, l_linenumber, l_quantity, " +
      "prio := order.o_orderpriority}.sort(l_orderkey, l_linenumber)",
    "/orders?o_custkey=370{o_orderkey, n_lines := count(lineitem), " +
      "qty := sum(lineitem.l_quantity)}.sort(o_orderkey)")

  test("the benchmark's HTSQL templates answer identically in both modes") {
    val g = Graft(spark, dir)
    assert(templates.size == 16)
    templates.foreach { text =>
      val interpreted = g.query(text)
      val compiled = Execution.bound.withValue(0L)(g.query(text))
      assert(interpretedConf(interpreted.sparkSession), s"not interpreted: $text")
      assert(compiled.sparkSession eq spark, s"not compiled: $text")
      val (i, c) = (interpreted.collect().toSeq, compiled.collect().toSeq)
      assert(i.nonEmpty, s"an empty answer proves nothing: $text")
      assert(i == c, s"modes differ on $text")
    }
  }
}

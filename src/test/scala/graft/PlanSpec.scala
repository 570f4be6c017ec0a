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
}

package graft

import org.apache.spark.sql.functions._
import graft.corpus.Synth
import graft.index.Builder
import graft.query.{IndexHandle, Searcher}

/** Physical-plan assertions: the optimizations we rely on at scale must
  * actually appear in the executed plan (pushdown, pruning, broadcast,
  * whole-stage codegen) — not just be intended. */
class PlanSpec extends SparkTestBase {

  private lazy val indexDir = {
    val d = tmpDir("plan-idx")
    Builder.build(spark, Synth.corpus(spark, 200, seed = 3L), d,
      Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 2, saltTarget = 60))
    d
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("non-resident handle pushes term + bucket filters to parquet") {
    // force the non-resident path
    spark.conf.set("graft.postings.persistCap", "1")
    val d2 = tmpDir("plan-idx2")
    Builder.build(spark, Synth.corpus(spark, 120, seed = 4L), d2,
      Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 2, saltTarget = 60))
    try {
      val h = IndexHandle.open(spark, d2)
      assert(!h.postingsResident)
      val plan = planOf(h.blocksFor(Seq("id_0", "id_7")))
      assert(plan.contains("PushedFilters") && plan.contains("In(term"),
        s"term filter not pushed:\n$plan")
      // bucket is a partition (directory) column -> PartitionFilters
      assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
        s"bucket partition pruning missing:\n$plan")
      h.close()
    } finally spark.conf.unset("graft.postings.persistCap")
  }

  test("resident handle serves blocks from InMemoryTableScan") {
    val h = IndexHandle.open(spark, indexDir)
    assert(h.postingsResident)
    val plan = planOf(h.blocksFor(Seq("id_0")))
    assert(plan.contains("InMemoryTableScan"), plan)
  }

  test("resolve join is a broadcast join, not a shuffle join") {
    val topk = Searcher.searchTopK(spark, indexDir,
      Seq(Searcher.Query(1, "id_0")), 5)
    val plan = planOf(Searcher.resolve(spark, indexDir, topk))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("corpus scan prunes columns (never reads content for stats paths)") {
    // docmeta read for resolve: only 4 columns requested
    val h = IndexHandle.open(spark, indexDir)
    val schema = h.docmeta.schema.fieldNames.toSeq
    assert(schema == Seq("doc_id", "repo", "path", "commit"))
  }

  test("AND matching skips blocks in the kernel: < 1/3 decoded, no job on a resident index") {
    // 5000 docs: term "rare" only in docs 0..9, "common" in every doc.
    // AND("rare common") must decode only common's blocks that hold
    // rare's docs.
    val corpus = spark.range(5000).select(
      lit("r0").as("repo"),
      format_string("f%08d", col("id")).as("path"),
      lit("c").as("commit"), lit("x").as("lang"),
      concat(lit("common filler_a filler_b "),
        when(col("id") < 10, "rare ").otherwise("")).as("content"))
    val d = tmpDir("plan-prune")
    Builder.build(spark, corpus, d,
      Builder.Config(blockSize = 64, nBuckets = 4, nSegments = 1, saltTarget = 1000000))
    val h = IndexHandle.open(spark, d, 4)
    val q = Seq(Searcher.Query(1, "rare common"))
    def assertPruned(clue: String): Unit = {
      val s = Searcher.lastStats.get(1L)
      assert(s != null, s"$clue: no work counters")
      assert(s.blocksDecoded < s.blocksTotal / 3,
        s"$clue: pruning too weak: ${s.blocksDecoded} of ${s.blocksTotal} blocks")
    }
    // the candidates of a small batch on a resident index are one local
    // relation: the driver kernel ran, and collecting starts no job
    val cand = Searcher.searchCandidates(spark, d, q, 4)
    assert(planOf(cand).contains("LocalTableScan"), planOf(cand))
    assert(cand.collect().length == 10)
    assertPruned("searchCandidates")
    // ranking through the top-k dispatcher stays correct
    val rows = Searcher.searchTopK(spark, d, q, 20, Searcher.And, 4).collect()
    assert(rows.length == 10) // exactly the 10 docs containing both
    assertPruned("searchTopK")
    // the COUNTING path runs the same kernel, on the executor groups
    val cntRows = Searcher.countMatches(spark, d, q, 4).collect()
    assert(cntRows.length == 1 && cntRows(0).getLong(1) == 10L)
    h.close()
  }

  test("executor WAND: blocks join the query table broadcast, no sort-merge") {
    val df = Searcher.searchTopKWandExecutors(spark, indexDir,
      Seq(Searcher.Query(1, "id_0 id_3"), Searcher.Query(2, "id_1")), 5,
      Searcher.And, 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the query-term table is broadcast onto the block scan; the only
    // wide exchange is the groupByKey(query_id) shuffle of matched blocks
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("substring/offsets trigram probe pushes gram + bucket filters to parquet") {
    val d = tmpDir("plan-tri")
    Builder.build(spark, Synth.corpus(spark, 100, seed = 6L), d,
      Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 1,
        saltTarget = 60, storeTrigrams = true))
    val sample = Synth.doc(6L, 3L).content
    val df = graft.query.Substring.findOffsets(spark, d,
      Seq(1L -> sample.substring(0, 12)), nBuckets = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // gram membership reaches the parquet scan; bucket is a partition
    // (directory) filter — the probe reads only the grams' row groups
    assert(plan.contains("PushedFilters") && plan.contains("In(gram"),
      s"gram filter not pushed:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"bucket partition pruning missing:\n$plan")
  }

  test("snippets broadcast the capped match table against a pruned corpus scan") {
    val d = tmpDir("plan-idx3")
    Builder.build(spark, Synth.corpus(spark, 120, seed = 5L), d,
      Builder.Config(blockSize = 16, nBuckets = 8, nSegments = 2,
        saltTarget = 60, storeTrigrams = true))
    val pat = Synth.doc(5L, 7L).content.substring(0, 20)
    val df = graft.query.Substring.snippets(spark, d, Seq(1L -> pat),
      ctx = 10, nBuckets = 8, maxMatches = 20L)
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    // the final content join must be broadcast (capped offsets side),
    // never a shuffle of the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the corpus scan is column-pruned to exactly (doc_id, content)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,content:string>"),
      plan)
  }
}

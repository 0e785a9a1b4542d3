package graft

import org.apache.spark.sql.functions._

import graft.core.{ColUniverse, SparseRel}
import graft.queries.Tables

/** Plan-shape assertions — the 100 TB design contract, pinned so a
  * refactor can't silently reintroduce a scale-killer:
  * filters reach the parquet scan, top-n never globally sorts in one
  * partition, small-side joins broadcast, aggregation is one shuffle. */
class PlanSpec extends SparkSpecBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("locRange predicate pushes down to the parquet scan") {
    val rel = SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id"), Some(Tables.EventTypes))
    val p = plan(rel.locRange("user_id", lit(3), lit(9)).df)
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(user_id,3)"),
      s"expected user_id range in PushedFilters:\n$p")
  }

  test("locRangeMulti pushes its implied leading-level range to the scan") {
    val rel = SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id", "ts"), Some(Tables.EventTypes))
    val p = plan(rel.locRangeMulti(
      Seq(lit(3), to_timestamp(lit("2024-01-05 00:00:00"))),
      Seq(lit(9), to_timestamp(lit("2024-01-20 00:00:00")))).df)
    // the plan string truncates long PushedFilters lists, so assert on
    // the lower bound (complete) and the upper bound's prefix
    assert(p.contains("GreaterThanOrEqual(user_id,3)") &&
      p.contains("LessThanOrEqual(user_i"),
      s"leading-level range not pushed:\n$p")
  }

  test("takeRows plans a parallel partial top-n, not a global window sort") {
    val rel = SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id"), Some(Tables.EventTypes)).groupbySum()
    val p = plan(rel.takeRows(10).df)
    assert(p.contains("TakeOrderedAndProject"), s"no partial top-n:\n$p")
    assert(!p.contains("Window"), s"global window crept back in:\n$p")
  }

  test("renameCols joins the mapping broadcast, never sort-merge") {
    val rel = SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id"), Some(Tables.EventTypes)).groupbySum()
    val p = plan(rel.renameCols("evt_" + _).df)
    assert(p.contains("BroadcastHashJoin"), s"mapping join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"mapping join shuffled:\n$p")
  }

  test("groupbySum is a single-shuffle hash aggregate with partial combine") {
    val rel = SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id"), Some(Tables.EventTypes))
    val p = plan(rel.groupbySum().df)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly one shuffle, got $exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("outer alignment (add) is union + one aggregate shuffle, no join") {
    import graft.core.AlignHow
    val a = SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id"), Some(Tables.EventTypes)).groupbySum()
    val p = plan(a.add(a, AlignHow.Outer).df)
    assert(p.contains("Union"), s"outer add should union:\n$p")
    assert(!p.contains("Join"), s"outer add must not join:\n$p")
  }

  test("column projection prunes the parquet read schema") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more than the projection:\n$p")
  }

  test("operator scans read only the columns the operator uses") {
    import graft.operators.{Similarity, TextAnalysis}
    def readSchema(df: org.apache.spark.sql.DataFrame): String =
      "ReadSchema: [^\\n]*".r.findFirstIn(plan(df)).getOrElse("")
    val onehot = readSchema(SparseRel.scanEvents(Tables.events(spark, sf),
      "event_type", Seq("user_id"), Some(Tables.EventTypes)).df)
    assert(onehot.contains("user_id") && onehot.contains("event_type") &&
      !onehot.contains("props") && !onehot.contains("ts"), onehot)
    val winnow = readSchema(TextAnalysis.fingerprintWinnow(
      Tables.documents(spark, sf), "doc_id", "text"))
    assert(winnow.contains("text") &&
      Seq("lang", "source", "n_chars").forall(!winnow.contains(_)), winnow)
    // the exact search is eager: its scans are in the plans it runs
    val emb = Tables.embeddings(spark, sf)
    val (_, qes) = plansDuring(Similarity.AnnIndex(None, Similarity.AnnIndex.Flat).search(
      emb, "vec_id", "embedding", emb.filter(col("vec_id") < 8).select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv")), 10))
    val flat = scansOf(qes, s"$sf/embeddings.parquet").map(_._1.requiredSchema.fieldNames.toSeq)
    assert(flat.nonEmpty && flat.forall(f => f.contains("embedding") && !f.contains("label")),
      flat.toString)
  }

  test("sampling ops are shuffle-free map stages; exact-k is partial top-k") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
    val split = plan(Sampling.assignSplits(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    assert(!split.contains("Exchange"), s"split assignment shuffled:\n$split")
    val strat = plan(Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0.5)))
    assert(!strat.contains("Exchange"), s"stratified sample shuffled:\n$strat")
    val k = plan(Sampling.sampleExactK(docs, "doc_id", 10))
    assert(k.contains("TakeOrderedAndProject"), s"exact-k not partial top-k:\n$k")
  }

  test("bloom decontamination plans one corpus scan — no join, no shuffle") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    // the benchmark side aggregates into the filter BEFORE this plan
    // exists; the corpus-side plan must be a pure map stage — the
    // whole point of the Bloom path is that corpus n-grams never
    // enter a join or a shuffle
    val p = plan(TextAnalysis.decontaminate(
      docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text",
      bench, "text", n = 5))
    assert(!p.contains("Join"), s"corpus-side join crept in:\n$p")
    assert(!p.contains("Exchange"), s"corpus-side shuffle crept in:\n$p")
  }

  test("paragraphDuplicates shuffles digests only — raw span text never enters an exchange") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val p = plan(Dedup.paragraphDuplicates(docs, "doc_id", "text", chunkSize = 32))
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, s"expected a digest-keyed aggregate shuffle:\n$p")
    assert(exchanges.forall(_.contains("span_sha")),
      s"a shuffle not keyed on the digest crept in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the staged span relation is the only input: the corpus text is
    // scanned/tokenized ONCE (at staging), not once per join leg
    assert(!p.contains("FileScan"),
      s"a join leg re-scans the corpus instead of the staged spans:\n$p")
  }

  test("semanticDuplicates meets candidates only inside an IVF cell — no cartesian") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val p = plan(Similarity.semanticDuplicates(emb, "vec_id", "v", threshold = 0.95))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the within-cell sweep degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected a cell-keyed equi join:\n$p")
  }

  test("dedup_semantic certificate sweep is subset-bounded — no all-pairs BNLJ") {
    import graft.queries.PipelineQueries
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val p = plan(PipelineQueries.certExactPairs(corpus, 0.95, 1000000L))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"the certificate sweep degenerated to all-pairs:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected an equi-keyed sweep:\n$p")
    // the subset filter (the actual scale bound) must reach both scan
    // legs: count the actual predicate, not the attribute name. Spark
    // may reuse the second leg's subtree (ReusedExchange), in which
    // case one printed predicate covers both.
    val subsetPred = "vec_id#\\d+L? < 512\\) OR \\(vec_id#\\d+L? >= 1000000".r
      .findAllIn(p).length
    assert(subsetPred >= 2 || (subsetPred == 1 && p.contains("ReusedExchange")),
      s"subset filter must bound both sweep legs (found $subsetPred):\n$p")
  }

  test("BPE tokenization is one narrow map stage — no shuffle, no UDF") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val merges = TextAnalysis.trainBpeMerges(docs, "doc_id", "text",
      numMerges = 20)
    val p = plan(TextAnalysis.bpeTokens(docs, "doc_id", "text", merges))
    assert(!p.contains("Exchange"), s"BPE apply must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"),
      s"BPE apply must be a native expression, not a UDF:\n$p")
  }

  test("LM perplexity scoring is one narrow map stage — no shuffle, no UDF") {
    import graft.operators.LanguageModel
    val docs = Tables.documents(spark, sf)
    val lm = LanguageModel.train(docs, "doc_id", "text", vocabSize = 16)
    val p = plan(LanguageModel.perplexity(docs, "doc_id", "text", lm))
    assert(!p.contains("Exchange"), s"LM scoring must not shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"),
      s"LM scoring must be pure Column arithmetic, not a UDF:\n$p")
  }

  test("lshTopK executes no Exchange and no Window; exactNearest ranks without a Window") {
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.Similarity

    // lshTopK ranks like AnnIndex.search (pinned below): bounded
    // per-task tops merged on the driver, so no plan it runs shuffles
    // or windows
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    val (_, qes) = plansDuring(Similarity.lshTopK(emb, "vec_id", "embedding", queries, 5))
    assert(qes.nonEmpty, "lshTopK: no query captured")
    qes.foreach { qe =>
      val bad = planNodes(qe.executedPlan).filter {
        case _: Exchange | _: ReusedExchangeExec | _: WindowExec => true
        case _ => false
      }
      assert(bad.isEmpty, s"lshTopK: ${bad.map(_.nodeName).mkString(", ")} in\n" +
        qe.executedPlan)
    }
    // the all-vs-all 1-NN is a top-1 aggregate: no window over N² pairs
    val nn = Similarity.exactNearest(emb, "vec_id", "embedding").queryExecution.sparkPlan
    assert(nn.collect { case w: WindowExec => w }.isEmpty, s"window in exactNearest:\n$nn")
  }

  test("ANN index search executes no Exchange and no Window, inline or written") {
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.Similarity

    // a search ranks in bounded per-task tops merged on the driver, so
    // no plan it runs shuffles or windows: ranking only ever sees the
    // scan's rows, held at most k·refine per query
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    Seq("Flat", "IVF,Flat", "SQ8", "IVF,SQ8", "PQ", "IVF,PQ").foreach { kind =>
      val idx = Similarity.AnnIndex.fit(emb, "vec_id", "embedding", kind,
        nlist = 8, m = 4, ksub = 16)
      val dir = java.nio.file.Files.createTempDirectory("graft_plan_ann")
      try {
        idx.write(emb, "vec_id", "embedding", dir.toString)
        val (_, written) = plansDuring {
          val (back, codes) = Similarity.AnnIndex.read(spark, dir.toString)
          back.search(emb, "vec_id", "embedding", queries, 5, codes = codes)
        }
        val (_, inline) = plansDuring(idx.search(emb, "vec_id", "embedding", queries, 5))
        Seq("inline" -> inline, "written" -> written).foreach { case (how, qes) =>
          assert(qes.nonEmpty, s"$kind $how: no query captured")
          qes.foreach { qe =>
            val bad = planNodes(qe.executedPlan).filter {
              case _: Exchange | _: ReusedExchangeExec | _: WindowExec => true
              case _ => false
            }
            assert(bad.isEmpty, s"$kind $how: ${bad.map(_.nodeName).mkString(", ")} in\n" +
              qe.executedPlan)
          }
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("ANN rerank scans the corpus with the id filter — no corpus exchange") {
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.operators.Similarity

    // every quantized kind shortlists k·refine candidates per query and
    // reranks them on the float vectors: the rerank's corpus scan
    // carries the shortlisted ids as a pushed filter and nothing above
    // it exchanges, so the vectors are never shuffled, whatever the
    // corpus size
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
    Seq("SQ8", "IVF,SQ8", "PQ", "IVF,PQ").foreach { kind =>
      val (_, qes) = plansDuring(Similarity.AnnIndex.fit(emb, "vec_id", "embedding", kind,
          nlist = 8, m = 4, ksub = 16)
        .search(emb, "vec_id", "embedding", queries, 5))
      val reranks = qes.map(_.executedPlan).filter(p => planNodes(p).exists {
        case scan: FileSourceScanExec => scan.output.exists(_.name == "embedding") &&
          scan.dataFilters.exists(f => f.isInstanceOf[In] || f.isInstanceOf[InSet])
        case _ => false
      })
      assert(reranks.size === 1,
        s"$kind: expected one rerank scan carrying the id filter, got ${reranks.size}:\n" +
          qes.map(_.executedPlan).mkString("\n"))
      assert(!planNodes(reranks.head).exists(_.isInstanceOf[Exchange]),
        s"$kind: the corpus is exchanged in the rerank:\n${reranks.head}")
    }
  }

  test("shuffleOrder enumerates via range-partitioned sort, never a global window") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf).select(col("doc_id"))
    val shuffled = Sampling.shuffleOrder(docs, "doc_id", seed = "p")
    // the output frame is built from the zipWithIndex RDD, so assert
    // on the SORT stage's plan: rank order comes from a rangepartitioning
    // exchange + local sort, not a Window over one partition
    val keyed = docs
      .withColumn("__draw", md5(concat(lit("p"), col("doc_id").cast("string"))))
      .orderBy(col("__draw"), col("doc_id"))
    val p = plan(keyed)
    assert(p.contains("rangepartitioning"), s"sort not range-partitioned:\n$p")
    assert(!p.contains("Window"), s"window crept into the shuffle order:\n$p")
    assert(!plan(shuffled).contains("Window"),
      "window crept into the enumerated output")
  }

  test("selectByBudget's only window runs over the boundary bucket, not the corpus") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.{Selection, TextAnalysis}
    val docs = Tables.documents(spark, sf)
    val scored = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .join(TextAnalysis.tokenCount(docs, "doc_id", "text")
        .select(col("doc_id"), col("ws_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("quality"), col("ws_tokens"))
    val out = Selection.selectByBudget(scored, "doc_id", "quality",
      "ws_tokens", budget = 500L, buckets = 16)
    // a bucket-equality filter must sit under every window (on at
    // least one leg of the inner join — either bounds the output, and
    // Catalyst pushes it into the scan): the exact cumulative sort
    // pays for ~1/buckets of the corpus, never all of it
    def bucketGuarded(p: SparkPlan): Boolean = p.collectFirst {
      case f: FilterExec if f.condition.toString.contains("width_bucket") => f
    }.nonEmpty
    val ws = out.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "boundary window missing — did the budget not cross?")
    ws.foreach(w => assert(bucketGuarded(w.child),
      s"cumulative window consumes an unbucketed corpus:\n${out.queryExecution.sparkPlan}"))
  }

  test("mixTokenBudget windows only each label's boundary bucket, never whole labels") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.window.WindowExec
    import graft.operators.Selection
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val out = Selection.mixTokenBudget(docs, "doc_id", "source", "n_chars",
      Map("src0" -> 2000L, "src1" -> 2000L, "src2" -> 2000L))
    // the per-label cumulative window must sit above a boundary-bucket
    // equality filter (the md5-prefix conv() bucketing), so each label
    // pays the sort for ~1/256 of its rows, not the whole partition
    def bucketGuarded(p: SparkPlan): Boolean = p.collectFirst {
      case f: FilterExec if f.condition.toString.contains("conv") => f
    }.nonEmpty
    val ws = out.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(ws.nonEmpty, "boundary window missing — did no budget cross?")
    ws.foreach(w => assert(bucketGuarded(w.child),
      s"label window consumes unbucketed label partitions:\n${out.queryExecution.sparkPlan}"))
  }
}

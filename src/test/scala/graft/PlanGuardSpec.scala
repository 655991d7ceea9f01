package graft

import org.apache.spark.sql.execution.window.WindowExec
import graft.queries.Queries

/** Scale-shape guard: no served query may plan an unpartitioned window over
  * row-scale data — the single-task shape that silently serializes at scale
  * (VERDICT round 1 flagged it twice: q_cum_natural, GraphQL runs). The
  * block-prefix technique's windows are allowed: they either run over the
  * tiny per-block totals frame (every produced column is `_gq_`-internal)
  * or partition by the block id.
  */
class PlanGuardSpec extends SparkSpec {

  // reference-form queries that are DOCUMENTED as serial (their distributed
  // twins carry the scale path and are checked against the same oracle)
  private val documentedSerial = Set("q_runs_split")

  /** An unpartitioned window is tolerable only when its input was already
    * reduced below row scale: an aggregation (block totals, group counts)
    * or a limit (bounded positional prefix) sits on EVERY path between it
    * and a source. A collectFirst over the whole subtree would green-light
    * a window over Join(tinyAgg, fullScan) because the tiny side has an
    * aggregate — so recurse: a node is reduced iff it reduces itself, or
    * ALL of its children are reduced (a join is row-scale if any input
    * is). Leaves (scans) are not reduced. */
  private def reduced(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    plan match {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case p if p.children.isEmpty => false
      case p => p.children.forall(reduced)
    }

  test("no unpartitioned row-scale window in any registry query plan") {
    val offenders = Queries.all
      .filterNot(q => documentedSerial.contains(q.name))
      .flatMap { q =>
        val df = q.run(spark, sf)
        df.queryExecution.sparkPlan
          .collect {
            case w: WindowExec if w.partitionSpec.isEmpty && !reduced(w.child) =>
              q.name -> w.windowExpression.map(_.name).mkString(",")
          }
      }
    assert(offenders.isEmpty,
      s"unpartitioned row-scale windows: ${offenders.mkString("; ")}")
  }

  test("incrementalBloom screens via the native Bloom expression, not a Scala UDF") {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalaUDF}
    val docs = graft.core.Tables.load(spark, sf, "documents")
    val corpus = docs.limit(200).select("doc_id", "text")
    val batch = docs.limit(300).select("doc_id", "text")
    val df = graft.operators.Dedup.incrementalBloom(batch, corpus,
      "text", "doc_id", expectedItems = 1000L, fpp = 1e-6)
    val analyzed = df.queryExecution.analyzed
    val udfs = analyzed.collect { case p =>
      p.expressions.flatMap(_.collect { case u: ScalaUDF => u }) }.flatten
    assert(udfs.isEmpty, s"Scala UDF on the Bloom screening hot path: $udfs")
    val blooms = analyzed.collect { case p =>
      p.expressions.flatMap(_.collect { case b: BloomFilterMightContain => b }) }.flatten
    assert(blooms.nonEmpty, "expected a BloomFilterMightContain screen in the plan")
  }

  test("above-budget centroid assignment embeds no array literals in the plan") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.ArrayType
    val embs = graft.core.Tables.load(spark, sf, "embeddings")
    def arrayLits(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.flatMap(_.collect {
          case l: Literal if l.dataType.isInstanceOf[ArrayType] => l })
      }.flatten.size
    // nlist=256 × dim 64 = 16,384 floats > the default 8,192 budget: the
    // centroids must travel as broadcast DATA — zero array literals in
    // the plan (paper-scale nlist would otherwise embed ~150 MB of plan)
    val bcast = graft.operators.Similarity.ivfTopK(embs, embs.limit(3),
      "vec_id", "embedding", k = 3, nlist = 256, nprobe = 2)
    assert(arrayLits(bcast) == 0,
      s"broadcast-arm plan still carries ${arrayLits(bcast)} array literals")
    // nlist=16 stays on the literal arm (fastest at small nlist)
    val lit = graft.operators.Similarity.ivfTopK(embs, embs.limit(3),
      "vec_id", "embedding", k = 3, nlist = 16, nprobe = 2)
    assert(arrayLits(lit) >= 1, "small-nlist literal arm disappeared")
  }

  test("literal-arm centroids are explicitly typed literals, equal to typedLit's") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.functions.{array, col, struct, typedLit}
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val cents = Array((7L, Array(0.5f, -1.0f, 2.0f)), (11L, Array(1.0f, 0.0f, 3.25f)))
    val v = spark.range(1).select(typedLit(Array(1.0f, 2.0f, 3.0f)).as("v"))
    def lits(c: org.apache.spark.sql.Column): Seq[Literal] =
      v.select(c).queryExecution.analyzed.expressions
        .flatMap(_.collect { case l: Literal => l })
        .filter(l => l.dataType == LongType || l.dataType.isInstanceOf[ArrayType])
    val got = lits(graft.operators.Similarity.centScorer(spark, cents)(col("v")))
    assert(got.map(_.dataType) == Seq(LongType, ArrayType(FloatType, containsNull = false),
      LongType, ArrayType(FloatType, containsNull = false)), got)
    // the reflective form builds the very same literals
    val reflective = lits(array(cents.map { case (cid, cv) =>
      struct(typedLit(cid).as("cid"), typedLit(cv).as("cv")) }.toIndexedSeq: _*))
    assert(got == reflective)
  }

  test("an ordered root's filter -> count plans no broadcast and no join") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val orders = graft.core.Tables.loadOrdered(spark, sf, "orders")
    val df = orders.filter(org.apache.spark.sql.functions.col("o_totalprice") >= 100000.0)
      .groupBy().count()
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(Plans.collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
    assert(Plans.collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
    // the row id is pruned: the scan reads the filter column alone. (Spark
    // still generates the parquet row index, `_tmp_metadata_row_index`,
    // for any relation whose output holds `_metadata`, read or not.)
    val scans = Plans.collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.map(_.requiredSchema.fieldNames.toSeq
        .filterNot(_.startsWith("_tmp_metadata_"))) == Seq(Seq("o_totalprice")),
      scans.map(_.requiredSchema))
  }

  test("knnJoin plan shapes: brute broadcasts ONLY the hinted corpus; LSH/IVF joins shuffle, never broadcast a table side") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val embs = graft.core.Tables.load(spark, sf, "embeddings")
    val left = embs.filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 3)
    // the fixture is tiny, so Catalyst's size-estimate auto-broadcast would
    // broadcast EVERYTHING; disable it to see the shapes a 100 TB input
    // would plan — only explicit broadcast() hints survive
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // brute: the hinted corpus broadcast is the ONLY broadcast join —
      // the (arbitrarily large) left streams against it
      val brute = graft.operators.Similarity.knnJoinBrute(left, embs,
        "vec_id", "embedding", 3).queryExecution.sparkPlan
      assert(brute.collect { case b: BroadcastNestedLoopJoinExec => b }.nonEmpty,
        "brute join must broadcast the corpus side (hinted)")
      // LSH / IVF: big×big — candidate generation and vector re-joins must
      // plan as shuffle joins; any broadcast join here means a table side
      // would ship to every executor at scale. The occupancy cap stays in
      // the plan (a count window), so it plans no broadcast either.
      val lsh = graft.operators.Similarity.knnJoinLsh(left, embs,
        "vec_id", "embedding", 3, planes = 4, dim = 64)
        .queryExecution.sparkPlan
      val lshB = lsh.collect {
        case b: BroadcastHashJoinExec => b
        case b: BroadcastNestedLoopJoinExec => b }
      assert(lshB.isEmpty, s"LSH join plans a table-side broadcast: $lshB")
      assert(lsh.collect { case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j }.nonEmpty,
        "LSH join lost its shuffle-join candidate generation")
      val ivf = graft.operators.Similarity.knnJoinIvf(left, embs,
        "vec_id", "embedding", 3, nlist = 16, nprobe = 4)
        .queryExecution.sparkPlan
      val ivfB = ivf.collect {
        case b: BroadcastHashJoinExec => b
        case b: BroadcastNestedLoopJoinExec => b }
      assert(ivfB.isEmpty, s"IVF join plans a table-side broadcast: $ivfB")
      assert(ivf.collect { case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j }.nonEmpty,
        "IVF join lost its shuffle-join candidate generation")
      // banded self-joins: the cap's count window partitions by the bucket
      // keys, so it rides the ONE shuffle the self-join needs — each side
      // reuses it, and no broadcast appears (AQE off: the reuse is decided
      // at planning time, so executedPlan shows it)
      import graft.operators.Dedup
      val docs = graft.core.Tables.load(spark, sf, "documents")
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def hashOn(e: ShuffleExchangeExec, keys: Set[String]) =
        e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name)).toSet == keys
          case _ => false
        }
      // plan nodes that evaluate a fused sketch: exactly one per pairs plan
      // (a null filter pushed below the sketch's projection makes it two,
      // and every document is signed twice)
      def sketches(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
        case n if n.expressions.exists(_.exists {
          case _: graft.expressions.MinHashSignature => true
          case _: graft.expressions.SimHash64 => true
          case _ => false
        }) => n }
      try {
        val banded = Seq(
          ("minhashPairs", Set("band", "bucket"),
            Dedup.minhashPairs(docs, "text", "doc_id")),
          ("minhashPairs md5", Set("band", "bucket"),
            Dedup.minhashPairs(docs, "text", "doc_id", k = 32, bands = 8,
              md5 = true)),
          ("simhashPairs", Set("band", "bucket"),
            Dedup.simhashPairs(docs, "text", "doc_id")),
          ("simhashPairs md5", Set("band", "bucket"),
            Dedup.simhashPairs(docs, "text", "doc_id", md5 = true)),
          ("lshCosinePairs", Set("_bucket"),
            graft.operators.Similarity.lshCosinePairs(embs, "vec_id",
              "embedding", 0.2, planes = 4, dim = 64)))
        banded.foreach { case (op, keys, df) =>
          val plan = df.queryExecution.executedPlan
          val bcast = plan.collect {
            case b: BroadcastHashJoinExec => b
            case b: BroadcastNestedLoopJoinExec => b }
          assert(bcast.isEmpty, s"$op plans a broadcast join: $bcast")
          val onKeys = plan.collect {
            case e: ShuffleExchangeExec if hashOn(e, keys) => e }
          assert(onKeys.size == 1,
            s"$op must plan exactly one (reused) shuffle on $keys:\n$plan")
          assert(plan.collect { case r: ReusedExchangeExec => r.child }
              .contains(onKeys.head),
            s"$op's second self-join side must reuse the bucket shuffle:\n$plan")
          assert(sketches(plan).size == (if (op == "lshCosinePairs") 0 else 1),
            s"$op must evaluate its sketch in one plan node:\n$plan")
        }
        // minhash: the signature pass runs once, under ONE exchange on id
        // that the band explode and both verification joins read (the
        // other two readers reuse it; ReusedExchangeExec is a leaf, so
        // collect never descends into a reused copy)
        banded.filter(_._1.startsWith("minhash")).foreach { case (op, _, df) =>
          val plan = df.queryExecution.executedPlan
          val onId = plan.collect {
            case e: ShuffleExchangeExec if hashOn(e, Set("id")) => e }
          assert(onId.size == 1, s"$op must plan one shuffle on id:\n$plan")
          assert(sketches(onId.head) == sketches(plan),
            s"$op must evaluate minhash_sig only under the id shuffle:\n$plan")
          assert(plan.collect { case r: ReusedExchangeExec => r.child }
              .count(_ == onId.head) == 2,
            s"$op's verification joins must reuse the id shuffle:\n$plan")
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the guard itself catches the documented-serial window shape") {
    // runsSerial IS the serial reference form — the guard must see it, or
    // the green assertion above proves nothing
    val events = graft.core.GTable(graft.core.Tables.loadOrdered(spark, sf, "events"))
    val df = events.runsSerial(Seq("event_type")).result
    val caught = df.queryExecution.sparkPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !reduced(w.child) => w
    }
    assert(caught.nonEmpty, "guard failed to flag the known serial window")
  }
}

package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.ArrayJaccard

/** GraftExtensions: the native tier must be reachable from pure SQL, the
  * JaccardFusion rule must rewrite the naive composition into the fused
  * expression, and a small global sort must skip its range-sampling job
  * without changing its rows or their order. */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("native expressions are SQL-callable after extension registration") {
    val r = spark.sql(
      """SELECT
        |  array_jaccard(array('a','b'), array('b','c')) AS j,
        |  cosine_sim(array(1.0d, 0.0d), array(0.6d, 0.8d)) AS c,
        |  parse_cookies('uid=42; sess=%2Fa%20b')['sess'] AS s,
        |  word_shingles('a b c d', 3) AS sh,
        |  simhash16(array('hash', 'join')) AS h,
        |  winnow_fingerprints('the quick brown fox jumps', 8, 16) AS fp,
        |  dot_long(array(2L, 3L), array(5L, 7L)) AS dl,
        |  jl_project(array(1.0d, 2.0d), 2, 2) AS jp
        |""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 0.6) < 1e-12)
    assert(r.getString(2) == "/a b")
    assert(r.getSeq[String](3) == Seq("a b c", "b c d"))
    assert(r.getLong(4) >= 0L && r.getLong(4) < 65536L)
    assert(r.getSeq[Long](5).nonEmpty && r.getSeq[Long](5).forall(h => h >= 0))
    assert(r.getLong(6) == 31L)
    // each JL component is ±1·1.0 ± 1·2.0 — magnitude 1 or 3
    assert(r.getSeq[Double](7).forall(v => math.abs(math.abs(v) - 2.0) == 1.0))
  }

  test("codec expressions are SQL-callable (decode_image / resize_image / decode_audio)") {
    // non-container bytes take the deterministic fallbacks — the SQL
    // registration is what's under test, the codecs have their own spec
    val r = spark.sql(
      """SELECT
        |  decode_image(cast('Hello' as binary)).width AS w,
        |  octet_length(resize_image(cast('Hello' as binary), 4, 3)) AS rb,
        |  decode_audio(cast('Hello' as binary)).sample_rate AS sr
        |""".stripMargin).head()
    assert(r.getInt(0) == 'H'.toInt)
    assert(r.getInt(1) > 0)
    assert(r.getInt(2) == 8000 + ('H'.toInt % 8) * 1000)
  }

  test("nfc_normalize composes decomposed sequences and fast-paths clean strings") {
    val decomposed = "e\u0301clair" // e + combining acute
    val composed = "\u00e9clair"    // precomposed e-acute
    val r = spark.sql(
      s"""SELECT
        |  nfc_normalize('$decomposed') AS comp,
        |  length(nfc_normalize('$decomposed')) AS n,
        |  nfc_normalize('already clean ascii') AS clean,
        |  nfc_normalize(CAST(NULL AS STRING)) AS nul
        |""".stripMargin).head()
    assert(r.getString(0) == composed)
    assert(r.getInt(1) == composed.length)
    assert(r.getString(2) == "already clean ascii")
    assert(r.isNullAt(3))
  }

  test("JaccardFusion rewrites the naive size/intersect/concat idiom") {
    // real scan input — a literal LocalRelation would be constant-folded
    // away before the rewrite is observable
    val df = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split(col("text"), " ").as("x"), split(col("text"), "t").as("y"))
      .select((size(array_intersect(col("x"), col("y"))).cast("double") /
        size(array_distinct(concat(col("x"), col("y"))))).as("j"))
    val fused = df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[ArrayJaccard]))
    assert(fused, s"expected ArrayJaccard in optimized plan:\n${df.queryExecution.optimizedPlan}")
    // rewrite preserves semantics: compare against the direct expression
    val direct = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(split(col("text"), " ").as("x"), split(col("text"), "t").as("y"))
      .select(graft.ext.Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == direct.collect().map(_.getDouble(0)).toSeq)
  }

  test("JaccardFusion preserves the composed form's semantics on empty arrays") {
    // slice(..., 1, 0) builds empty arrays from a real scan (a literal
    // would constant-fold before the rule observes it). The reference
    // result uses array_union — same value as distinct(concat) but a
    // shape the rule does NOT match, so it runs unfused.
    def empties = Tables.documents(spark, "/root/testdata/sf0.001").limit(3)
      .select(slice(split(col("text"), " "), 1, 0).as("x"),
        slice(split(col("text"), " "), 1, 0).as("y"))
    val fusedRows = empties
      .select((size(array_intersect(col("x"), col("y"))).cast("double") /
        size(array_distinct(concat(col("x"), col("y"))))).as("j"))
    assert(fusedRows.queryExecution.optimizedPlan
      .collect { case p => p.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[ArrayJaccard])), "rule should still fire")
    val unfusedRows = empties
      .select((size(array_intersect(col("x"), col("y"))).cast("double") /
        size(array_union(col("x"), col("y")))).as("j"))
    // Under ANSI (Spark 4 default) BOTH phrasings throw DIVIDE_BY_ZERO on
    // the empty union; under legacy both yield NaN. Either way the
    // observable outcome must be identical — compare outcomes, not values.
    def outcome(df: org.apache.spark.sql.DataFrame): String =
      try df.collect().map(r => if (r.isNullAt(0)) "null" else r.getDouble(0).toString).mkString(",")
      catch { case e: Throwable => s"error:${rootClass(e).getSimpleName}" }
    val got = outcome(fusedRows)
    assert(got == outcome(unfusedRows), s"fused=$got unfused=${outcome(unfusedRows)}")
  }

  private def rootClass(e: Throwable): Class[_] = {
    var c: Throwable = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    c.getClass
  }

  // ------------------------------------------------------- TopKAggregateRewrite

  /** The canonical per-group top-k idiom over a real scan. */
  private def rankTopK(k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"), length(col("text")).as("len"))
    val w = Window.partitionBy(col("source")).orderBy(col("len").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  test("TopKAggregateRewrite turns row_number-filter into the bounded aggregate (no Window, no Sort)") {
    val df = rankTopK(3)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.aggregateExpressions.exists(_.exists(
            _.isInstanceOf[graft.functions.BoundedTopKRows])) => a
      }.isDefined,
      s"expected BoundedTopKRows aggregate in optimized plan:\n$opt")
    assert(opt.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, s"window operator must be gone:\n$opt")
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("ObjectHashAggregate"),
      s"bounded top-k should plan as ObjectHashAggregate:\n$physical")
    assert(!physical.contains("Sort "), s"no sort node expected:\n$physical")
  }

  test("TopKAggregateRewrite output equals the window formulation row for row") {
    // reference: same idiom, but the filter carries a second (never-true)
    // disjunct referencing another column — outside the rule's
    // cond-touches-only-rank guard, so it runs as a real window
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"), length(col("text")).as("len"))
    val w = Window.partitionBy(col("source")).orderBy(col("len").desc, col("doc_id"))
    val refDf = scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3 || col("doc_id") < 0)
    assert(refDf.queryExecution.optimizedPlan.toString.contains("row_number"),
      "reference must stay a window")
    val reference = refDf.orderBy(col("source"), col("rank"))
      .collect().map(_.toSeq).toSeq
    val rewritten = rankTopK(3)
      .orderBy(col("source"), col("rank"))
      .collect().map(_.toSeq).toSeq
    assert(rewritten == reference)
  }

  test("TopKAggregateRewrite leaves non-matching shapes alone (dense_rank, multi-column window)") {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"), length(col("text")).as("len"))
    val w = Window.partitionBy(col("source")).orderBy(col("len").desc, col("doc_id"))
    val dr = scored.withColumn("rank", dense_rank().over(w)).filter(col("rank") <= 3)
    assert(dr.queryExecution.optimizedPlan.collectFirst {
        case wn: org.apache.spark.sql.catalyst.plans.logical.Window => wn
      }.isDefined, "dense_rank (tie-keeping semantics) must keep the window plan")
  }

  test("TopKAggregateRewrite preserves null ordering (desc_nulls_first / asc_nulls_last / defaults)") {
    import org.apache.spark.sql.expressions.Window
    // every 7th len is NULL — the rank order's null placement decides
    // which rows survive the top-k, so a flag mishandled in the
    // aggregate's comparator changes the OUTPUT, not just the order
    def scored = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null).cast("int"))
          .otherwise(length(col("text"))).as("len"))
    val orders = Seq(
      ("desc_nulls_first", col("len").desc_nulls_first),
      ("desc_nulls_last", col("len").desc_nulls_last),
      ("asc_nulls_first", col("len").asc_nulls_first),
      ("asc_nulls_last", col("len").asc_nulls_last))
    for ((name, ord) <- orders) {
      val w = Window.partitionBy(col("source")).orderBy(ord, col("doc_id"))
      val rewritten = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      assert(rewritten.queryExecution.optimizedPlan.toString.contains("bounded_top_k_rows"),
        s"$name: rule must fire")
      // reference: a never-true extra disjunct referencing another column
      // keeps the filter outside the rule's guard — stays a real window
      val reference = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3 || col("doc_id") < 0)
      assert(reference.queryExecution.optimizedPlan.toString.contains("row_number"),
        s"$name: reference must stay a window")
      val a = rewritten.orderBy(col("source"), col("rank")).collect().map(_.toSeq).toSeq
      val b = reference.orderBy(col("source"), col("rank")).collect().map(_.toSeq).toSeq
      assert(a == b, s"$name: rewritten output diverged from the window form")
    }
  }

  test("TopKAggregateRewrite handles rank == 1 (keep-first) and empty partitions") {
    val first = rankTopK(1).drop("rank")
    // keep-first per source == min doc_id among the longest docs
    val expect = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"), length(col("text")).as("len"))
      .collect().groupBy(_.getString(0)).map { case (src, rows) =>
        val best = rows.minBy(r => (-r.getInt(2), r.getLong(1)))
        (src, best.getLong(1), best.getInt(2))
      }.toSet
    assert(first.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet == expect)
  }

  // ------------------------------------------------ SmallSortSinglePartition

  private object Plans extends AdaptiveSparkPlanHelper

  /** Partitionings of the shuffles in `df`'s final (executed) plan. */
  private def shuffles(df: Dataset[_]): Seq[Partitioning] =
    Plans.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }

  private def isRange(p: Partitioning): Boolean = p.isInstanceOf[RangePartitioning]

  /** minPartitionSize 1 byte: no input fits the size AQE coalesces into
    * one partition, so the rule never fires. */
  private def gateOff[T](body: => T): T =
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b")(body)

  // 4000 rows over 4 range partitions, sorted on a non-monotone key
  private def smallSort: DataFrame =
    spark.range(0, 4000, 1, 4)
      .select(((col("id") * 7919) % 1000).as("k"), col("id"))
      .orderBy(col("k"), col("id").desc)

  test("a small global sort shuffles into one partition and skips the sampling job") {
    val (onJobs, on) = TestSpark.jobsOf { val df = smallSort; (df.collect().toSeq, shuffles(df)) }
    val (offJobs, off) = gateOff {
      TestSpark.jobsOf { val df = smallSort; (df.collect().toSeq, shuffles(df)) }
    }
    assert(on._2 == Seq(SinglePartition), on._2)
    assert(off._2.size == 1 && isRange(off._2.head), off._2)
    assert(onJobs == offJobs - 1, s"jobs: rule $onJobs, gate off $offJobs")
    assert(on._1 == off._1, "same rows in the same order")
    assert(on._1.map(r => (r.getLong(0), r.getLong(1))) ==
      (0L until 4000L).map(i => ((i * 7919) % 1000, i)).sortBy { case (k, i) => (k, -i) })
  }

  test("the sort keeps its range shuffle without AQE coalescing") {
    TestSpark.withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val df = smallSort
      df.collect()
      assert(shuffles(df).map(isRange) == Seq(true), shuffles(df))
    }
  }

  test("a sort over a finished stage decides on its runtime size") {
    // 2M rows: the plan estimates the aggregate's input at 16 MB, over
    // the 1 MB gate; its 10 groups measure a few hundred bytes once the
    // first stage has run, and the re-optimized plan sorts in one task
    def q = spark.range(0, 2000000, 1, 4).groupBy((col("id") % 10).as("g"))
      .agg(count(lit(1)).as("n")).orderBy(col("g"))
    assert(q.queryExecution.optimizedPlan.stats.sizeInBytes > (1L << 20))
    val df = q
    assert(shuffles(df).headOption.exists(isRange), "initial plan: " + shuffles(df))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 10L).map(_ -> 200000L))
    // the final plan, outermost shuffle first
    assert(shuffles(df).headOption.contains(SinglePartition), shuffles(df))
    val off = gateOff { val d = q; d.collect(); shuffles(d) }
    assert(off.exists(isRange), off)
  }

  test("repartitionByRange keeps its range layout") {
    val df = spark.range(0, 4000, 1, 4).repartitionByRange(4, col("id"))
    assert(df.collect().length == 4000)
    assert(shuffles(df).map(isRange) == Seq(true), shuffles(df))
  }
}

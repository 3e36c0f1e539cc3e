package graft

import graft.plans.{BestSimilarityMatchRule, SimilarityJoinRule}
import graft.queries.Fixture
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SimilarityJoinSpec {
  /** Runs `body` with SimilarityJoinRule excluded from the optimizer:
    * the reference plan is the plain nested-loop join + expression
    * filter, with no SimilarityJoin node for BestSimilarityMatchRule to
    * rewrite either. Plans must be built and run inside `body`. */
  def reference[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, SimilarityJoinRule.ruleName)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** FuzzyJoin's declarative shape over the fixture pair: crossJoin +
    * similarity threshold filter. */
  def declarativeQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .select(col("article"), Fixture.supplierName(col("article")).as("cname"))
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
    cands.crossJoin(base)
      .where(expr("graft_similarity(cname, bname) >= 0.62"))
      .select("article", "base_article")
  }
}

/** The whole-operator extension path: declarative crossJoin + threshold
  * filter transparently rewritten (Rule) into the custom logical node and
  * planned (Strategy) into the native blocked similarity-join exec. The
  * engine session installs both; the reference side of each equivalence
  * test runs with the rule excluded. */
class SimilarityJoinSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}
  import SimilarityJoinSpec.reference

  private def declarativeQuery() = SimilarityJoinSpec.declarativeQuery(spark, sfDir)
  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rule + strategy plan the declarative shape into the native exec") {
    val plan = declarativeQuery().queryExecution.executedPlan.toString
    assert(plan.contains("SimilarityJoin"), s"native operator not planned:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"cross join survived the rewrite:\n$plan")
  }

  test("native similarity join returns exactly the expression-filtered cross join") {
    val expected = reference(spark)(pairs(declarativeQuery()))
    assert(expected.nonEmpty, "threshold too high — test would be vacuous")
    assert(pairs(declarativeQuery()) === expected)
  }

  test("build side over autoBroadcastJoinThreshold falls back to the banded cross join") {
    val expected = reference(spark)(pairs(declarativeQuery()))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1") // nothing fits
    try {
      val df = declarativeQuery()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SimilarityJoinExec"),
        s"driver-collect build side must not plan over the broadcast cap:\n$plan")
      assert(pairs(df) === expected, "fallback plan changed results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("strict > excludes exact-threshold ties; >= keeps them") {
    import spark.implicits._
    // ratio("abcd","abcf") = 2*3/(4+4) = 0.75 exactly
    val l = Seq("abcd").toDF("cname")
    val r = Seq("abcf").toDF("bname")
    def q(op: String) =
      l.crossJoin(r).where(expr(s"graft_similarity(cname, bname) $op 0.75"))
    val ge = q(">=")
    assert(ge.queryExecution.executedPlan.toString.contains("SimilarityJoin"))
    assert(ge.count() === 1L, ">= 0.75 must keep the exact-tie pair")
    val gt = q(">")
    assert(gt.queryExecution.executedPlan.toString.contains("SimilarityJoin"),
      "strict > should still plan natively (with the strict flag)")
    assert(gt.count() === 0L, "> 0.75 must exclude the exact-tie pair")
  }

  test("j2's gated fuzzy-probe shape plans the native exec under the engine rules") {
    val df = graft.queries.MatchQueries.queries("j2_fuzzy_probe")(spark, sfDir)
    // SparkPlan.nodeName strips the Exec suffix, so the physical node
    // renders as "SimilarityJoin" too — assert the cross join is gone.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SimilarityJoin"),
      s"FuzzyJoin's declarative shape must go native in an engine session:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"cross join survived the rewrite:\n$plan")
    assert(df.count() > 0)
  }

  // ---- BestSimilarityMatchRule shape guards: the partial-best rewrite
  // must fire ONLY on the canonical single-max-struct argmax shape, and
  // every almost-matching shape must fall back to the banded path with
  // identical rows. ----

  /** FuzzyJoin's argmax shape over the fixture pair, parameterized on the
    * aggregate list and an optional extra residual conjunct. */
  private def argmaxShape(aggs: Seq[Column], extraResidual: Option[Column] = None): DataFrame = {
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .select(col("article"), Fixture.supplierName(col("article")).as("cname"))
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
    val cond = extraResidual.foldLeft(expr("graft_similarity(cname, bname) >= 0.62"))(_ && _)
    cands.crossJoin(base).where(cond)
      .groupBy("article").agg(aggs.head, aggs.tail: _*)
  }

  private val canonicalAgg =
    max(struct(expr("graft_similarity(cname, bname)").as("s"),
      (-col("base_article")).as("nk"), col("base_article").as("k"),
      col("bname").as("n"))).as("_b")

  private def keyOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("article"), col("_b.k"), round(col("_b.s"), 4).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("canonical argmax shape rewrites to the partial-best exec") {
    val expected = reference(spark)(keyOf(argmaxShape(Seq(canonicalAgg))))
    assert(expected.nonEmpty)
    val df = argmaxShape(Seq(canonicalAgg))
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("PartialBestSimilarityJoin"),
      s"canonical shape must go partial-best:\n$plan")
    assert(keyOf(df) === expected)
  }

  test("two max-structs fall back to the banded path with identical rows") {
    val twoAggs = Seq(canonicalAgg,
      max(struct(col("base_article").as("k2"))).as("_b2"))
    val expected = reference(spark)(keyOf(argmaxShape(twoAggs)))
    assert(expected.nonEmpty)
    val df = argmaxShape(twoAggs)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("PartialBestSimilarityJoin"),
      s"two max-structs must NOT rewrite:\n$plan")
    assert(keyOf(df) === expected, "fallback rows diverged")
  }

  test("rule declines nondeterministic residual and struct fields (rule-level)") {
    // These shapes can't be produced through the DataFrame API — the
    // analyzer rejects nondeterministic aggregate arguments, and the
    // optimizer rewrites trivial rand() predicates before user rules run
    // — but a programmatically built plan can still carry them, so the
    // rule's own guards are pinned directly on hand-built logical plans.
    import org.apache.spark.sql.catalyst.expressions.{Alias, CreateNamedStruct, LessThanOrEqual, Literal, Rand}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter => LFilter}
    import graft.plans.{GraftSimilarity, PartialBestSimilarityJoin, SimilarityJoin}
    val candsPlan = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .select(col("article"), Fixture.supplierName(col("article")).as("cname"))
      .queryExecution.analyzed
    val basePlan = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
      .queryExecution.analyzed
    val g = candsPlan.output.find(_.name == "article").get
    val cname = candsPlan.output.find(_.name == "cname").get
    val bArticle = basePlan.output.find(_.name == "base_article").get
    val bname = basePlan.output.find(_.name == "bname").get
    val sim = GraftSimilarity(cname, bname)
    val sj = SimilarityJoin(candsPlan, basePlan, cname, bname, 0.62, strict = false)
    def maxOf(struct: CreateNamedStruct) =
      Alias(AggregateExpression(Max(struct), Complete, isDistinct = false), "_b")()
    val goodStruct = CreateNamedStruct(Seq(
      Literal("s"), sim, Literal("k"), bArticle))
    // positive control: the clean shape rewrites
    val clean = Aggregate(Seq(g), Seq(g, maxOf(goodStruct)), sj)
    assert(BestSimilarityMatchRule(clean).exists(_.isInstanceOf[PartialBestSimilarityJoin]),
      "control shape must rewrite")
    // nondeterministic struct field → guard refuses
    val ndStruct = CreateNamedStruct(Seq(
      Literal("s"), sim, Literal("z"), new Rand(Literal(42L)), Literal("k"), bArticle))
    val ndAgg = Aggregate(Seq(g), Seq(g, maxOf(ndStruct)), sj)
    assert(BestSimilarityMatchRule(ndAgg) === ndAgg,
      "nondeterministic struct field must NOT rewrite")
    // nondeterministic residual filter → guard refuses
    val ndFilter = Aggregate(Seq(g), Seq(g, maxOf(goodStruct)),
      LFilter(LessThanOrEqual(new Rand(Literal(7L)), Literal(2.0)), sj))
    assert(BestSimilarityMatchRule(ndFilter) === ndFilter,
      "nondeterministic residual must NOT rewrite")
  }

  test("argmax shape over a too-big build side falls back with identical rows") {
    val expected = reference(spark)(keyOf(argmaxShape(Seq(canonicalAgg))))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1") // nothing fits
    try {
      val df = argmaxShape(Seq(canonicalAgg))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("PartialBestSimilarityJoin") &&
        !plan.contains("SimilarityJoinExec"),
        s"over-threshold build side must not collect on the driver:\n$plan")
      assert(keyOf(df) === expected, "fallback rows diverged")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("residual conjuncts survive as a filter above the native join") {
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .select(col("article"), Fixture.supplierName(col("article")).as("cname"))
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
    val df = cands.crossJoin(base)
      .where(expr("graft_similarity(cname, bname) >= 0.62 AND base_article % 2 = 0"))
      .select("article", "base_article")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SimilarityJoin"), s"no native join:\n$plan")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall(_._2 % 2 == 0), "residual predicate dropped")
  }
}

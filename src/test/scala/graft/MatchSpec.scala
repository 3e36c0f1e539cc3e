package graft

import graft.functions.{Cleaning, ProductCode, Similarity}
import graft.operators.FuzzyJoin
import graft.queries.{Fixture, MatchQueries}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Matching-cascade invariants + fuzzy-join exactness on sf0.001. */
class MatchSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  test("e2_cascade partitions the supplier pool: stages disjoint, union complete") {
    val cascade = MatchQueries.queries("e2_cascade")(spark, sfDir).cache()
    val supplierTotal = Fixture.supplierSide(spark, sfDir).count()
    assert(cascade.count() === supplierTotal)
    assert(cascade.select("article").distinct().count() === supplierTotal)
    val byStage = cascade.groupBy("found_by").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStage.values.sum === supplierTotal)
    assert(byStage("article") > 0)
    assert(byStage.getOrElse("new", 0L) > 0, "cascade must leave some new items")
    // every matched row carries a base article; new rows never do
    assert(cascade.filter(col("found_by") =!= "new" && col("base_article").isNull).count() === 0)
    assert(cascade.filter(col("found_by") === "new" && col("base_article").isNotNull).count() === 0)
    cascade.unpersist()
  }

  test("blocked fuzzy join ≡ exact cross join (lossless length-band + bound cascade)") {
    val cands = Fixture.supplierSide(spark, sfDir)
      .filter(col("article") % 97 === 0)
      .withColumn("name", Fixture.supplierName(col("article")))
      .select("article", "name")
    val base = Fixture.baseSide(spark, sfDir)
      .select(col("article").as("base_article"),
        Fixture.baseName(col("article"), col("name")).as("bname"))
    val blocked = FuzzyJoin.bestMatch(cands, col("article"), col("name"),
        base, col("base_article"), col("bname"), 0.33, "m")
      .select("article", "m_key", "m_sim")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet

    // Oracle: plain crossJoin + full-precision referenceRatio, no blocking.
    val simUdf = udf((a: String, b: String) => Similarity.referenceRatio(a, b))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("article").orderBy(col("s").desc, col("base_article").asc)
    val exact = cands.crossJoin(base)
      .withColumn("s", simUdf(col("name"), col("bname")))
      .filter(col("s") >= 0.33)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("article"), col("base_article"), round(col("s"), 4).as("sim"))
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    val allCands = cands.select("article").collect().map(_.getLong(0)).toSet
    val expected = allCands.map { a =>
      exact.get(a) match {
        case Some((k, s)) => (a, k, s)
        case None => (a, None, None)
      }
    }
    assert(blocked === expected)
  }

  test("quick-ratio bounds dominate the true ratio (safety of the early exit)") {
    val pairs = Seq(
      ("power bank black 12000mah", "small ring black 12000mah (PB-6)"),
      ("abcdef", "abcdef"), ("abc", "xyz"), ("", "x"),
      ("Power bank", "power BANK"))
    for ((a, b) <- pairs) {
      val al = a.toLowerCase; val bl = b.toLowerCase
      val r = Similarity.ratio(al, bl)
      assert(Similarity.quickRatio(al, bl) >= r - 1e-12)
      assert(Similarity.realQuickRatio(al, bl) >= Similarity.quickRatio(al, bl) - 1e-12)
      // thresholded scorer agrees with the full scorer above the threshold
      val fast = Similarity.referenceRatioAtLeast(a, b, 0.33)
      val full = Similarity.referenceRatio(a, b)
      if (full >= 0.33) assert(fast === full) else assert(fast < 0.33)
    }
  }

  test("nameCode expression ≡ ProductCode UDF (Latin AND Cyrillic inputs)") {
    val names = Seq(
      "Powerbank GREENOE Portable Power bank 60000mah 100w (C25)",
      "Cable AC-M25-SC black (x)", "XIAOMI charger 12 mah",
      "Adapter M2319E1 fast", "plain thing", "C60 hub", "12345 spec",
      "USB-C POWER PORTABLE CHARGER BANK", "item 900MA x", null,
      // Cyrillic: pattern 7 codes must actually match (ASCII \b never
      // borders a Cyrillic letter — the bug this list pins), and Latin
      // codes glued to Cyrillic words must NOT gain fake boundaries.
      "Повербанк С20 чёрный", "Зарядка д30 для Mi9",
      "КабельC60 обычный",       // Latin C60 glued to Cyrillic word: no boundary
      "Хаб (А123) с25 порты")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(names.zipWithIndex.map { case (n, i) => org.apache.spark.sql.Row(i, n) }),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.StringType))))
    val got = df.select(col("id"), Cleaning.nameCode(col("n")).as("c"))
      .collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
    names.zipWithIndex.foreach { case (n, i) =>
      assert(got(i) === Option(ProductCode.findInName(n)), s"input: $n")
    }
  }

  test("j3/j4 respect cascade order: no article appears in both stages") {
    val j3 = MatchQueries.queries("j3_bracket_match")(spark, sfDir)
      .select("article").collect().map(_.getLong(0)).toSet
    val j4 = MatchQueries.queries("j4_unified_match")(spark, sfDir)
      .select("article").collect().map(_.getLong(0)).toSet
    assert(j3.intersect(j4).isEmpty)
  }
}

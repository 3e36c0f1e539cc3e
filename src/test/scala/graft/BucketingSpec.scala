package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB co-location story, proven on a plan: bucketing both join
  * sides on the join key lets the sort-merge join read pre-partitioned
  * buckets with NO shuffle exchange — the pattern that turns the
  * engine's repeated article-keyed joins into scan-local work at scale.
  */
class BucketingSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  test("bucketed-by-key tables join without a shuffle exchange") {
    // external-table paths, so the (static) warehouse dir is untouched
    SparkTestBase.withTempDir("bucketwh") { wh =>
      val supplier = queries.Fixture.supplierSide(spark, sfDir)
      val base = queries.Fixture.baseSide(spark, sfDir)
      supplier.write.mode("overwrite")
        .bucketBy(8, "article").sortBy("article")
        .option("path", s"$wh/sup_bucketed")
        .saveAsTable("sup_bucketed")
      base.write.mode("overwrite")
        .bucketBy(8, "article").sortBy("article")
        .option("path", s"$wh/base_bucketed")
        .saveAsTable("base_bucketed")
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      // disable broadcast so the join MUST co-locate by partitioning
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("sup_bucketed")
          .join(spark.table("base_bucketed"), Seq("article"))
          .select(col("article"), col("supplier_price"), col("base_price"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
          s"expected a non-broadcast join:\n$plan")
        assert(!plan.contains("Exchange hashpartitioning"),
          s"bucketed join still shuffled:\n$plan")
        // sanity: same rows as the plain (shuffling) join
        val expected = supplier.join(base, Seq("article")).count()
        assert(joined.count() === expected)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        spark.sql("DROP TABLE IF EXISTS sup_bucketed")
        spark.sql("DROP TABLE IF EXISTS base_bucketed")
      }
    }
  }
}

package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared fixture analogs for the matching/mutation operator suite.
  *
  * The reference's domain tables (supplier price list / master base,
  * SURVEY.md §1) are reconstructed deterministically from the TESTDATA.md
  * tables: lineitem plays the supplier price list (article = l_partkey),
  * part plays the master base. Product names with embedded bracket codes,
  * brands, colors and capacities — the raw material of the code-matching
  * cascade — are CONSTRUCTED from key arithmetic, and every construction
  * has a DuckDB-SQL twin kept in this file so Spark and oracle cannot
  * drift.
  *
  * Scale notes: all constructions are per-row expressions (no shuffle);
  * the supplier-side dedup is one hash shuffle on the join key, which the
  * subsequent joins reuse.
  *
  * Lifetime: [[plan]] reads the two input frames once per (session,
  * dir) through `Caches.memo`, and the four frames its [[SyncPlan]]
  * reuses are cached through `Caches.trackCached(dir, _)`, so
  * `Caches.release(s, dir)` is the one call that drops them all.
  */
object Fixture {

  /** The sync dataflow over this dir: the two frames [[SyncPlan]] reads,
    * with every simulated column constructed here, and its reused
    * intermediates cached under `dir` for [[Caches.release]]. The input
    * frames are read once per (session, dir) — only they are memoized,
    * never a plan's executed outputs — and a fresh [[SyncPlan]] per call
    * builds equal plans, which Spark's CacheManager serves from the same
    * caches. */
  def plan(s: SparkSession, dir: String): SyncPlan = {
    val article = col("article")
    val supplier = Caches.memo(s, dir, "sync_supplier")(supplierSide(s, dir).select(
      article, col("supplier_price"),
      supplierName(article).as("name"), supplierColor(article).as("color"),
      // the article cell this list proposes (S7)
      (article * 10 + 1).as("proposed_vitya"),
      // the base row a new item is inserted after (O3/S8)
      (article % 1000).as("anchor")))
    // every 4th base row's article cell is already occupied (value =
    // 10·article), the rest are empty — exercises the J8 existing-value
    // guard (main.py:5961-6051)
    val base = Caches.memo(s, dir, "sync_base")(baseSide(s, dir).select(
      article, col("base_price"),
      baseName(article, col("name")).as("name"), baseColor(article).as("color"),
      when(article % 4 === 0, article * 10).as("existing_vitya")))
    new SyncPlan(supplier, base, Caches.trackCached(dir, _))
  }

  // ---------------------------------------------------------------- supplier
  /** Supplier price list: lineitem keyed by l_partkey with deterministic
    * row identity and the reference's last-wins dict-overwrite dedup
    * (main.py:2118-2141): latest row in file order wins per article. */
  def supplierSide(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).withColumn("row_id", Tables.lineitemRowId)
    val w = Window.partitionBy("l_partkey").orderBy(col("row_id").desc)
    li.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("l_partkey").as("article"),
        col("l_extendedprice").as("supplier_price"),
        col("row_id"))
  }

  val supplierSideSql: String =
    """SELECT article, supplier_price, row_id FROM (
      |  SELECT l_partkey AS article, l_extendedprice AS supplier_price,
      |         l_orderkey*8+l_linenumber AS row_id,
      |         row_number() OVER (PARTITION BY l_partkey
      |                            ORDER BY l_orderkey*8+l_linenumber DESC) AS rn
      |  FROM lineitem) WHERE rn = 1""".stripMargin

  // ------------------------------------------------------------------- base
  /** Master base: part minus every 97th key, so the anti-join (new items)
    * path is non-trivial — supplier articles ≡ 0 (mod 97) are "new". */
  def baseSide(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .filter(col("p_partkey") % 97 =!= 0)
      .select(
        col("p_partkey").as("article"),
        col("p_retailprice").as("base_price"),
        col("p_name").as("name"))

  val baseSideSql: String =
    """SELECT p_partkey AS article, p_retailprice AS base_price, p_name AS name
      |FROM part WHERE p_partkey % 97 <> 0""".stripMargin

  // ----------------------------------------------- names / colors / capacity
  private val supplierColors = Seq("black", "white", "red", "blue")
  private val baseColors = Seq("black", "white", "red", "blue", "green")

  /** Supplier item color, deterministic from the article key. */
  def supplierColor(article: Column): Column =
    elt((Seq((article % 4 + 1).cast("int")) ++ supplierColors.map(lit)): _*)
  def supplierColorSql(a: String): String =
    s"list_extract(['black','white','red','blue'], CAST($a % 4 + 1 AS INT))"

  def baseColor(p: Column): Column =
    elt((Seq((p % 5 + 1).cast("int")) ++ baseColors.map(lit)): _*)
  def baseColorSql(p: String): String =
    s"list_extract(['black','white','red','blue','green'], CAST($p % 5 + 1 AS INT))"

  /** Supplier product name: color + capacity; EVEN articles carry a
    * bracket code PB-(article % 450) — base bracket codes only cover
    * multiples of 3 below 300, so most supplier codes miss and fall
    * through the cascade — while ODD articles have no bracket at all and
    * reach the unified (brand / F5 name-code) stage. Brand words appear
    * for article % 8 < 3. */
  def supplierName(article: Column): Column =
    concat(
      when(article % 8 === 0, lit("XIAOMI Power bank "))
        .when(article % 8 === 1, lit("SAMSUNG Power bank "))
        .when(article % 8 === 2, lit("HUAWEI Power bank "))
        .otherwise(lit("Power bank ")),
      supplierColor(article), lit(" "),
      ((article % 20 + 5) * 1000).cast("string"), lit("mah"),
      when(article % 2 === 0,
        concat(lit(" (PB-"), (article % 450).cast("string"), lit(")")))
        .otherwise(lit("")))

  def supplierNameSql(a: String): String =
    s"""(CASE WHEN $a % 8 = 0 THEN 'XIAOMI Power bank '
       |      WHEN $a % 8 = 1 THEN 'SAMSUNG Power bank '
       |      WHEN $a % 8 = 2 THEN 'HUAWEI Power bank '
       |      ELSE 'Power bank ' END ||
       | ${supplierColorSql(a)} || ' ' ||
       | CAST(($a % 20 + 5) * 1000 AS VARCHAR) || 'mah' ||
       | CASE WHEN $a % 2 = 0 THEN ' (PB-' || CAST($a % 450 AS VARCHAR) || ')'
       |      ELSE '' END)""".stripMargin

  /** Base product name: every third part carries a bracket code
    * PB-(p % 300) (p ≡ 0 mod 3 ⇒ only multiples of 3 appear); p % 3 = 1
    * parts carry a brand word; the rest are bare p_name — their unified
    * code comes from the F5 name-code extractor. */
  def baseName(p: Column, pName: Column): Column =
    when(p % 3 === 0,
      concat(pName, lit(" "), baseColor(p), lit(" "),
        ((p % 25 + 5) * 1000).cast("string"), lit("mah (PB-"),
        (p % 300).cast("string"), lit(")")))
      .when(p % 3 === 1,
        concat(
          when(p % 8 === 0, lit("XIAOMI ")).when(p % 8 === 1, lit("SAMSUNG "))
            .when(p % 8 === 2, lit("HUAWEI ")).when(p % 8 === 3, lit("APPLE "))
            .otherwise(lit("OPPO ")),
          pName, lit(" "), baseColor(p), lit(" "),
          ((p % 25 + 5) * 1000).cast("string"), lit("mah")))
      .otherwise(concat(pName, lit(" "), baseColor(p)))

  def baseNameSql(p: String, pName: String): String =
    s"""(CASE WHEN $p % 3 = 0 THEN $pName || ' ' || ${baseColorSql(p)} || ' ' ||
       |        CAST(($p % 25 + 5) * 1000 AS VARCHAR) || 'mah (PB-' ||
       |        CAST($p % 300 AS VARCHAR) || ')'
       |      WHEN $p % 3 = 1 THEN
       |        (CASE WHEN $p % 8 = 0 THEN 'XIAOMI ' WHEN $p % 8 = 1 THEN 'SAMSUNG '
       |              WHEN $p % 8 = 2 THEN 'HUAWEI ' WHEN $p % 8 = 3 THEN 'APPLE '
       |              ELSE 'OPPO ' END) ||
       |        $pName || ' ' || ${baseColorSql(p)} || ' ' ||
       |        CAST(($p % 25 + 5) * 1000 AS VARCHAR) || 'mah'
       |      ELSE $pName || ' ' || ${baseColorSql(p)} END)""".stripMargin
}

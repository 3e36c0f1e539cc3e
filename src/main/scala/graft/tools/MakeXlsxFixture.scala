package graft.tools

import graft.sources.Xlsx

/** One-off fixture generator: converts `fixtures/raw_vitya.csv` (the
  * committed raw-workbook-shaped CSV) into `fixtures/raw_vitya.xlsx`
  * through [[Xlsx.write]], so the xlsx read path can be hash-gated
  * against the CSV oracle — the two fixtures carry identical content by
  * construction, and the gate fails if either codec drifts. */
object MakeXlsxFixture {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build(logLevel = "WARN")
    val raw = spark.read
      .option("header", "true").option("multiLine", "true")
      .csv("fixtures/raw_vitya.csv")
    Xlsx.write(Seq(("Лист1", raw)), "fixtures/raw_vitya.xlsx")
    println(s"wrote fixtures/raw_vitya.xlsx (${raw.count()} data rows)")
    spark.stop()
  }
}

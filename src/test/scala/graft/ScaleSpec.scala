package graft

import java.nio.file.{Files, Paths}

import graft.tools.Scale
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the scale harness on the test fixture at k ∈ {1, 2}:
  * every model replicates each table exactly k×, keys stay unique, and
  * one entry per model measures cleanly and leaves no replica behind. */
class ScaleSpec extends AnyFunSuite {
  import SparkTestBase.{spark, sfDir}

  private val ks = Seq(1, 2)

  test("every model writes exactly k× each table's rows with unique keys") {
    val root = Files.createTempDirectory("graft_scale_spec")
    try Scale.models.foreach { model =>
      val counts = ks.map { k =>
        val dir = root.resolve(s"${model.name}_x$k").toString
        Scale.replicate(spark, sfDir, model, k, dir)
        k -> model.tables.map { t =>
          val df = spark.read.parquet(s"$dir/${t.name}.parquet")
          val n = df.count()
          t.key.foreach(key =>
            assert(df.select(key).distinct().count() === n, s"${model.name}.${t.name}.$key"))
          t.name -> n
        }.toMap
      }.toMap
      model.tables.foreach { t =>
        val src = Paths.get(s"$sfDir/${t.name}.parquet")
        val one = if (Files.exists(src)) spark.read.parquet(src.toString).count()
          else counts(1)(t.name)
        assert(one > 0, s"${model.name}.${t.name}")
        ks.foreach(k => assert(counts(k)(t.name) === k * one, s"${model.name}.${t.name} x$k"))
      }
    } finally Scale.deleteTree(root)
  }

  test("one entry per model measures with no failure and deletes its replicas") {
    val picked = Seq("d3", "cc", "d14", "scd", "order").map(Scale.entry)
    assert(picked.flatMap(_.models).map(_.name).toSet === Scale.models.map(_.name).toSet)
    picked.foreach { e =>
      val root = Files.createTempDirectory(s"graft_scale_spec_${e.name}")
      val runs = Scale.run(spark, e, sfDir, root, ks)
      assert(runs.map(_.k) === ks)
      runs.foreach { r =>
        assert(r.m.failed.isEmpty, s"${e.name} x${r.k}")
        assert(r.m.steady.keySet === e.queries.map(_._1).toSet, s"${e.name} x${r.k}")
        assert(r.m.cold.keySet === r.m.steady.keySet && r.m.coldCpu.keySet === r.m.steady.keySet)
        assert(r.counts.keySet === e.counts.map(_._1).toSet, s"${e.name} x${r.k}")
      }
      assert(!Files.exists(root), s"${e.name} left $root behind")
    }
  }

  test("exponents read log(y_k / y_1) / log k and skip non-positive values") {
    val got = Scale.exponents(Seq(1 -> 2.0, 2 -> 4.0, 4 -> 4.0, 8 -> 0.0))
    assert(got.map(_._1) === Seq(2, 4))
    assert(math.abs(got(0)._2 - 1.0) < 1e-9 && math.abs(got(1)._2 - 0.5) < 1e-9)
  }

  test("a stored record replaces the one with the same (entry, cpus) key") {
    val file = Files.createTempFile("scale", ".json")
    try {
      Scale.store(file, """{"entry":"d3","cpus":4,"v":1}""")
      Scale.store(file, """{"entry":"cc","cpus":4,"v":1}""")
      Scale.store(file, """{"entry":"d3","cpus":4,"v":2}""")
      Scale.store(file, """{"entry":"d3","cpus":1,"v":1}""")
      val text = new String(Files.readAllBytes(file), "UTF-8")
      assert(text ===
        """[
          |{"entry":"cc","cpus":4,"v":1},
          |{"entry":"d3","cpus":1,"v":1},
          |{"entry":"d3","cpus":4,"v":2}
          |]
          |""".stripMargin)
    } finally Files.delete(file)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query modules hold memos and landings only through
  * [[graft.queries.Caches]]: a bare memo map, a hand-built landing
  * name or a per-site staleness check anywhere else under
  * `graft/queries` fails this spec. */
class MemoGuardSpec extends AnyFunSuite {

  private val forbidden = Seq("ConcurrentHashMap", "computeIfAbsent",
    "nameUUIDFromBytes", "ProcessHandle.current", "memo != null")

  test("no memo machinery outside Caches.scala under graft/queries") {
    val root = new java.io.File("src/main/scala/graft/queries")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val hits = for {
      f <- root.listFiles().toSeq.sortBy(_.getName)
      if f.getName.endsWith(".scala") && f.getName != "Caches.scala"
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, n) <- try src.getLines().toList.zipWithIndex finally src.close()
      token <- forbidden if line.contains(token)
    } yield s"${f.getName}:${n + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}

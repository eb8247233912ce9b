package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Ownership lint: [[Checkpoints]] is the one owner of intermediate
  * storage, so no other library source may call `.localCheckpoint(`,
  * `.persist(` or `.cache()` — those blocks would sit outside the one
  * release. TripleStore is the exception: it owns the session store
  * cache and the `TripleStats.persist` profile write.
  */
class StorageOwnerLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val owners = Set("graft/Checkpoints.scala", "graft/rdf/TripleStore.scala")
  private val calls = Seq(".localCheckpoint(", ".persist(", ".cache()")

  test("only Checkpoints and TripleStore persist or checkpoint") {
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"no library sources found under $root")
    val hits = for {
      f <- sources
      rel = root.relativize(f).toString
      if !owners(rel)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$rel:${n + 1}: ${line.trim}"
    if (hits.nonEmpty)
      fail("storage calls outside graft.Checkpoints:\n" + hits.mkString("\n"))
  }
}

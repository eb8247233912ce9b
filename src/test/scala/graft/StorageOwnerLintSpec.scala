package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Ownership lint: [[Checkpoints]] is the one owner of intermediate
  * storage, so no other library source may call `.localCheckpoint(`,
  * `.persist(` or `.cache()` — those blocks would sit outside the one
  * release. TripleStore is the exception: it owns the session store
  * cache. Likewise
  * [[Harness]] is the one place a session is built.
  */
class StorageOwnerLintSpec extends AnyFunSuite {

  /** `file:line: text` for every line under `root` holding one of
    * `calls`, outside the files (relative to `root`) in `owners`.
    */
  private def hits(root: String, owners: Set[String],
                   calls: Seq[String]): Seq[String] = {
    val dir = Paths.get(root)
    val sources = Files.walk(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50, s"no library sources found under $root")
    for {
      f <- sources
      rel = dir.relativize(f).toString
      if !owners(rel)
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$root/$rel:${n + 1}: ${line.trim}"
  }

  test("only Checkpoints and TripleStore persist or checkpoint") {
    val found = hits("src/main/scala",
      Set("graft/Checkpoints.scala", "graft/rdf/TripleStore.scala"),
      Seq(".localCheckpoint(", ".persist(", ".cache()"))
    if (found.nonEmpty)
      fail("storage calls outside graft.Checkpoints:\n" + found.mkString("\n"))
  }

  test("only TripleStats, Regime and the compiler's two broadcast hints read smallRows") {
    // operators size their inputs through the one gate, graft.Regime
    val found = hits("src/main/scala",
      Set("graft/rdf/TripleStats.scala", "graft/Regime.scala"), Seq("smallRows"))
    val (hints, others) = found.partition(_.startsWith("src/main/scala/graft/sparql/Compiler.scala:"))
    if (others.nonEmpty || hints.size != 2)
      fail("smallRows read outside graft.Regime:\n" + found.mkString("\n"))
  }

  test("only Harness builds a SparkSession") {
    // split so this file does not match itself
    val builder = "SparkSession" + ".builder"
    val found = hits("src", Set("main/scala/graft/Harness.scala"), Seq(builder))
    if (found.nonEmpty)
      fail("sessions built outside graft.Harness:\n" + found.mkString("\n"))
  }
}

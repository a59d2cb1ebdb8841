package graft.operators

import java.io.File
import scala.io.Source
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Operators materialize through [[Stage]]/[[Fixpoint]]: checkpointing
  * or persisting a frame, dropping a checkpoint or creating an
  * Observation anywhere else in `graft/operators` means an operator is
  * growing its own lifecycle again (the hand-rolled loops these
  * primitives replaced leaked on error paths and made storage depend on
  * ContextCleaner timing). Likewise stored artifacts commit through
  * [[Generation]]: a pointer flip, claim or replay-fence check anywhere
  * else is a hand-rolled copy of its protocol. */
class LifecycleSourceSpec extends AnyFunSuite {
  private val dir = new File("src/main/scala/graft/operators")

  /** `file:line: text` of every line of an operator source outside
    * `owners` that `pattern` matches. */
  private def hits(owners: Set[String], pattern: Regex): Seq[String] = {
    val files = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".scala"))
    assert(owners.forall(o => files.exists(_.getName == o)),
      s"${owners.mkString("/")} not found under ${dir.getAbsolutePath}")
    for {
      f <- files.toSeq if !owners(f.getName)
      (line, i) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }.zipWithIndex
      if pattern.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
  }

  test("only Stage and Fixpoint drop checkpoints or create Observations") {
    val found = hits(Set("Stage.scala", "Fixpoint.scala"),
      """Bridge\s*\.\s*dropCheckpoint|\bObservation\s*\(""".r)
    assert(found.isEmpty, "use Stage/Fixpoint instead:\n" + found.mkString("\n"))
  }

  test("only Stage checkpoints a frame") {
    val found = hits(Set("Stage.scala"), """\.\s*localCheckpoint\s*\(""".r)
    assert(found.isEmpty, "checkpoint in a Stage instead:\n" +
      found.mkString("\n"))
  }

  test("only Generation commits an artifact") {
    val found = hits(Set("Generation.scala"),
      ("""\b(withGenClaim|writePointer|advance|fenceOf)\s*\(""" +
        """|epoch\s*<=\s*lastEpoch""").r)
    assert(found.isEmpty, "mutate through Generation instead:\n" +
      found.mkString("\n"))
  }

  test("only Stage persists, unpersists or caches a frame") {
    val found = hits(Set("Stage.scala"),
      """\.\s*(persist|unpersist)\s*\(|\.\s*cache\s*\(\s*\)""".r)
    assert(found.isEmpty, "pin in a Stage instead:\n" + found.mkString("\n"))
  }
}

package graft.operators

import java.io.File
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Operators materialize through [[Stage]]/[[Fixpoint]]: dropping a
  * checkpoint or creating an Observation anywhere else in
  * `graft/operators` means an operator is growing its own lifecycle again
  * (the hand-rolled loops these primitives replaced leaked on error paths
  * and made storage depend on ContextCleaner timing). */
class LifecycleSourceSpec extends AnyFunSuite {
  private val dir = new File("src/main/scala/graft/operators")
  private val owners = Set("Stage.scala", "Fixpoint.scala")
  private val forbidden = """Bridge\s*\.\s*dropCheckpoint|\bObservation\s*\(""".r

  test("only Stage and Fixpoint drop checkpoints or create Observations") {
    val files = Option(dir.listFiles).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".scala"))
    assert(owners.forall(o => files.exists(_.getName == o)),
      s"Stage/Fixpoint sources not found under ${dir.getAbsolutePath}")
    val hits = for {
      f <- files.toSeq if !owners(f.getName)
      (line, i) <- {
        val src = Source.fromFile(f, "UTF-8")
        try src.getLines().toVector finally src.close()
      }.zipWithIndex
      if forbidden.findFirstIn(line).isDefined
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "use Stage/Fixpoint instead:\n" + hits.mkString("\n"))
  }
}

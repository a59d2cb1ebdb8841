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
  * else is a hand-rolled copy of its protocol. And every foreachBatch
  * hookup in the engine runs through `graft.streaming.Hookup`: a bare
  * `(batch, epoch) =>` runs on the per-query session clone and
  * recompiles its generated classes at every query start. */
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

  test("every foreachBatch hookup runs through Hookup") {
    // a def returning a (DataFrame, Long) => Unit, up to the next member
    val member = """\n\s*(?:/\*\*|(?:(?:private|override|final)\s+)*def\s)""".r
    val returns = """:\s*\(DataFrame,\s*Long\)\s*=>\s*Unit\s*=""".r
    val defName = """\bdef\s+(\w+)""".r
    def sources(d: File): Seq[File] =
      Option(d.listFiles).getOrElse(Array.empty[File]).toSeq.flatMap { f =>
        if (f.isDirectory) sources(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val hookups = for {
      f <- sources(new File("src/main/scala"))
      if f.getName != "Hookup.scala"
      text = {
        val src = Source.fromFile(f, "UTF-8")
        try src.mkString finally src.close()
      }
      m <- returns.findAllMatchIn(text).toSeq
      name = defName.findAllMatchIn(text.substring(0, m.start)).toSeq
        .lastOption.map(_.group(1)).getOrElse("?")
      body = {
        val rest = text.substring(m.end)
        rest.substring(0, member.findFirstMatchIn(rest).map(_.start)
          .getOrElse(rest.length))
      }
    } yield (s"${f.getName}: $name", body.contains("Hookup"))
    assert(hookups.exists(_._1.endsWith("foreachBatchStagedMerge")),
      "no hookup found under src/main/scala:\n" +
        hookups.map(_._1).mkString("\n"))
    val bare = hookups.filterNot(_._2).map(_._1)
    assert(bare.isEmpty, "build the hookup with graft.streaming.Hookup " +
      "instead:\n" + bare.mkString("\n"))
  }

  test("only Stage persists, unpersists or caches a frame") {
    val found = hits(Set("Stage.scala"),
      """\.\s*(persist|unpersist)\s*\(|\.\s*cache\s*\(\s*\)""".r)
    assert(found.isEmpty, "pin in a Stage instead:\n" + found.mkString("\n"))
  }
}

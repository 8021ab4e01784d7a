package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guard against main code that only specs reach. A source scan, no Spark:
  * a `src/main/scala` file is flagged when it has no `def main` and none
  * of its top-level `object`/`class`/`trait` names appears in any other
  * file under `src/main` or `perfbench/harness/src`. The flagged set must
  * equal the list below, each entry with the reason it stays. A new module
  * that only its spec calls fails here: give it a caller or delete it. */
class SpecOnlyModuleSpec extends AnyFunSuite {

  private val allowed = Map(
    "graft/sources/KafkaIO.scala" ->
      "the reference's Avro wire codec; no Kafka connector ships here",
    "graft/streaming/ProgressMonitor.scala" ->
      "the per-batch lateness report the job mains are to be wired to",
    "graft/streaming/OnlineClassifier.scala" ->
      "the only form of its capability (online classification)")

  private val decl =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r

  private def filesUnder(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Nil
    else {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }
  }

  test("the main files no other main file names are exactly the allowed spec-only modules") {
    assert(Files.isDirectory(Paths.get("src/main/scala")),
      s"run from the repository root (working dir ${Paths.get("").toAbsolutePath})")
    val main = filesUnder("src/main")
    val text = (main ++ filesUnder("perfbench/harness/src"))
      .map(f => f -> new String(Files.readAllBytes(f), "UTF-8")).toMap
    val scalaRoot = Paths.get("src/main/scala")
    val flagged = main.filter(_.toString.endsWith(".scala")).filter { f =>
      val src = text(f)
      val names = decl.findAllMatchIn(src).map(_.group(1)).toSet
      """\bdef main\s*\(""".r.findFirstIn(src).isEmpty &&
        !names.exists { n =>
          val word = s"\\b${java.util.regex.Pattern.quote(n)}\\b".r
          text.exists { case (g, t) => g != f && word.findFirstIn(t).isDefined }
        }
    }.map(f => scalaRoot.relativize(f).toString).toSet
    assert(flagged == allowed.keySet,
      s"newly spec-only: ${(flagged -- allowed.keySet).toSeq.sorted}; " +
        s"no longer spec-only: ${(allowed.keySet -- flagged).toSeq.sorted}")
  }
}

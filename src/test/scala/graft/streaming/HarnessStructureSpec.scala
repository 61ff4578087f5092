package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Structure guard: the stream driver (`writeStream.foreachBatch`) and
  * the pid-scoped dir naming (`ProcessHandle.current().pid()`) live
  * only in [[StreamingQueries]]. Every replay stream goes through
  * `runBatches`/`runBatchesWithId`, `stageBatches`/`stageThirds` and
  * `scratchDir`, so a hand-copied driver or scratch dir fails here. */
class HarnessStructureSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val home = root.resolve("graft/streaming/StreamingQueries.scala")
  private val banned = Seq(
    "writeStream.foreachBatch" -> raw"writeStream\s*\.\s*foreachBatch".r,
    "ProcessHandle.current().pid()" ->
      raw"ProcessHandle\s*\.\s*current\(\)\s*\.\s*pid\(\)".r)

  private def sources: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  test("stream drivers and pid-scoped dirs appear only in StreamingQueries") {
    val files = sources
    assert(files.contains(home), s"$home not found under $root")
    val offenders = for {
      p <- files if p != home
      text = read(p)
      (name, re) <- banned if re.findFirstIn(text).isDefined
    } yield s"$p: $name"
    assert(offenders.isEmpty,
      "use the StreamingQueries helpers instead of:\n" +
        offenders.mkString("\n"))
  }

  test("the guard sees the calls it bans in their one home") {
    val text = read(home)
    banned.foreach { case (name, re) =>
      assert(re.findFirstIn(text).isDefined, s"$name missing from $home")
    }
  }
}

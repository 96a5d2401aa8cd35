package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Lockstep armor for the per-key state fold: `StatefulOps.perKey` is the
  * one `flatMapGroupsWithState` call in main source. A new stateful
  * streaming operator folds through it rather than repeating the grouping,
  * timeout and state get/update steps as eleven operators once did.
  */
class PerKeyLockstepSpec extends AnyFunSuite {

  test("flatMapGroupsWithState is called once in main source, inside StatefulOps") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root missing")
    val marker = ".flatMapGroupsWithState"
    val files = java.nio.file.Files.walk(root)
    val hits = try {
      scala.jdk.CollectionConverters.IteratorHasAsScala(files.iterator()).asScala
        .filter(_.toString.endsWith(".scala")).toSeq
        .flatMap { f =>
          val src = new String(java.nio.file.Files.readAllBytes(f),
            java.nio.charset.StandardCharsets.UTF_8)
          Iterator.iterate(src.indexOf(marker))(i => src.indexOf(marker, i + 1))
            .takeWhile(_ >= 0).map(_ => f.getFileName.toString)
        }
    } finally files.close()
    assert(hits === Seq("StatefulOps.scala"), "per-key streaming state " +
      "folds through StatefulOps.perKey — call it instead of " +
      s"flatMapGroupsWithState (calls found in: $hits)")
  }
}

package graft

import java.nio.file.Files

/** The main sources, for the guards that scan them: every `.scala`
  * file under `src/main/scala` with its text. */
object SourceScan {
  lazy val files: Seq[(java.io.File, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    state.Published.walk(root).filter(_.getName.endsWith(".scala"))
      .map(f => f -> Files.readString(f.toPath))
  }

  /** `src` without its comments. */
  def code(src: String): String =
    src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
}

package graft

import scala.util.matching.Regex

/** The source scan behind the guard specs: every match of a pattern in
  * the Scala sources under the nearest `src/main` at or above the working
  * directory.
  */
object SourceScan {

  /** A match, at the line it starts on (`text` is that line, trimmed). */
  final case class Hit(file: java.io.File, line: Int, text: String) {
    override def toString: String = s"${file.getPath}:$line: $text"
  }

  /** Every match of `pattern` in `src/main`; a match may span lines. */
  def hits(pattern: Regex): List[Hit] = {
    val cwd = new java.io.File(sys.props("user.dir")).getAbsoluteFile
    val root = Iterator.iterate(cwd)(_.getParentFile).takeWhile(_ != null)
      .map(new java.io.File(_, "src/main")).find(_.isDirectory)
      .getOrElse(throw new IllegalStateException(s"no src/main at or above $cwd"))
    def scalaFiles(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(scalaFiles)
      else Iterator(f).filter(_.getName.endsWith(".scala"))
    scalaFiles(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      val lines = text.split("\n", -1)
      pattern.findAllMatchIn(text).map { m =>
        val line = text.take(m.start).count(_ == '\n')
        Hit(f, line + 1, lines(line).trim)
      }.toList
    }.toList
  }
}

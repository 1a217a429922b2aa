package perfbench

import java.io.File
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** `file:` filesystem that relocates one directory tree into the run
  * directory. The program pins `spark.sql.warehouse.dir` to an absolute
  * path in `graft.Sessions`, and a benchmark run may write only inside its
  * own checkout; the harness reads the pinned path after the session is
  * built and points [[ConfinedFileSystem.relocate]] at it before any query
  * touches the catalog. Every other path passes through unchanged, and a
  * path already inside the run directory is never rewritten twice. */
class ConfinedFileSystem extends LocalFileSystem(new ConfinedRawFileSystem)

class ConfinedRawFileSystem extends RawLocalFileSystem {
  override def pathToFile(path: Path): File =
    ConfinedFileSystem.relocated(super.pathToFile(path))
}

object ConfinedFileSystem {
  @volatile private var mapping: Option[(String, String)] = None

  /** Send every path at or below `from` to the same place below `to`. */
  def relocate(from: String, to: String): Unit =
    mapping = Some((new File(from).getAbsolutePath, new File(to).getAbsolutePath))

  def relocated(f: File): File = mapping match {
    case Some((from, to)) =>
      val p = f.getAbsolutePath
      if (p == from) new File(to)
      else if (p.startsWith(from + File.separator)) new File(to + p.substring(from.length))
      else f
    case None => f
  }
}

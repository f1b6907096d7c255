package graft.lake

import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException, Files, Path}
import java.nio.file.attribute.BasicFileAttributes
import scala.jdk.CollectionConverters._

/** The write-once protocol under [[VersionedTable]]'s manifests and
  * [[MaterializedAgg]]'s state markers, on a local or mounted filesystem.
  * An entry `v00007<suffix>` is version 7; it becomes visible only through
  * [[publish]], the one step that decides a commit. The data it names was
  * written before into an attempt dir ([[attemptName]]) that is never
  * renamed, so a failed or lost attempt blocks no later one.
  */
private[lake] object VersionDirs {

  /** The versions published under `dir` with `suffix`, ascending; none
    * when `dir` does not exist yet.
    */
  def versions(dir: Path, suffix: String): Seq[Int] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val entry = ("v(\\d{5})" + java.util.regex.Pattern.quote(suffix)).r
    val names = Files.list(dir)
    try names.iterator().asScala.map(_.getFileName.toString)
      .collect { case entry(v) => v.toInt }.toSeq.sorted
    finally names.close()
  }

  /** Atomic create-if-absent: write `body` to a temp file beside
    * `target`, hard-link it into place, drop the temp. Returns false
    * when another writer published `target` first — the link fails
    * atomically, so two racers produce one winner and no torn file.
    */
  def publish(target: Path, body: String): Boolean = {
    val dir = target.getParent
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, s"${target.getFileName}-", ".tmp")
    try {
      Files.writeString(tmp, body)
      Files.createLink(target, tmp)
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** A fresh attempt dir name for version `v`: `v00007-<uuid>`. */
  def attemptName(v: Int): String = f"v$v%05d-${java.util.UUID.randomUUID}"

  private val Attempt = "v(\\d{5})-[0-9a-f-]{36}".r

  /** The version of the attempt dir directly under `dir` that is or
    * holds `p`; None when `p` is in no attempt dir.
    */
  def attemptVersion(dir: Path, p: Path): Option[Int] =
    Attempt.unapplySeq(dir.relativize(p).getName(0).toString).map(_.head.toInt)

  /** Delete the entries under `dir` (not `dir` itself) that `drop`
    * selects, deepest first. Every entry is judged by the attributes it
    * had in one listing taken before any delete; a selected directory
    * goes only if it is empty by then. Returns how many regular files
    * went.
    */
  def prune(dir: Path)(drop: (Path, BasicFileAttributes) => Boolean): Int = {
    if (!Files.isDirectory(dir)) return 0
    val paths = Files.walk(dir) // each directory before its entries
    val listed = try paths.iterator().asScala.drop(1)
      .map(p => p -> Files.readAttributes(p, classOf[BasicFileAttributes])).toList
    finally paths.close()
    listed.reverse.count { case (p, attrs) =>
      drop(p, attrs) && (try Files.deleteIfExists(p) && attrs.isRegularFile
      catch { case _: DirectoryNotEmptyException => false })
    }
  }

  /** Delete the tree under `dir`, deepest entries first; absent is fine. */
  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val paths = Files.walk(dir)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally paths.close()
  }
}

package graft.core

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The driver-side lister of a table or landing tree, with Spark's
  * file-index rule for what is data ([[GraftBridge.hiddenPathName]]):
  * the one place the lake's listing policy lives. */
object LeafFiles {

  /** Leaf data files (sorted by path) and the unescaped keys of the
    * `k=v` directories walked on the way to them. */
  final case class Listing(files: Seq[FileStatus], partitionKeys: Set[String])

  /** Lists `root` recursively, not descending into directories whose
    * name `skipDir` accepts. A root that is a file lists as itself; a
    * missing root throws `FileNotFoundException`. None once more than
    * `maxDirs` directories below the root are met: the walk stops
    * there, so a caller bounding it pays at most `maxDirs + 1`
    * listings before handing the tree to Spark. */
  def list(fs: FileSystem, root: Path,
      skipDir: String => Boolean = _ => false,
      maxDirs: Int = Int.MaxValue): Option[Listing] = {
    val files = mutable.ArrayBuffer.empty[FileStatus]
    val keys = mutable.Set.empty[String]
    var dirs = 0
    def walk(dir: Path): Boolean = fs.listStatus(dir).forall { st =>
      val name = st.getPath.getName
      if (GraftBridge.hiddenPathName(name)) true
      else if (!st.isDirectory) { files += st; true }
      else if (skipDir(name)) true
      else {
        dirs += 1
        if (name.contains("="))
          keys += ExternalCatalogUtils.unescapePathName(
            name.takeWhile(_ != '='))
        dirs <= maxDirs && walk(st.getPath)
      }
    }
    val top = fs.getFileStatus(root)
    val complete = if (top.isDirectory) walk(top.getPath) else {
      files += top; true
    }
    if (complete)
      Some(Listing(files.sortBy(_.getPath.toString).toSeq, keys.toSet))
    else None
  }
}

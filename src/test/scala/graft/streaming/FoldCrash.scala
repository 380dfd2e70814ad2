package graft.streaming

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils

/** Puts a store in the state a fold leaves when it crashes between its
  * publish rename and its source deletes: the fold runs, then every
  * batch directory it deleted is restored beside the published target.
  */
object FoldCrash {
  def afterPublish(root: String)(fold: => Unit): Unit = {
    val saved = Files.createTempDirectory("fold_sources").toFile
    def batchDirs(dir: File) =
      dir.listFiles().toSeq.filter(_.getName.startsWith("batch="))
    batchDirs(new File(root))
      .foreach(d => FileUtils.copyDirectory(d, new File(saved, d.getName)))
    fold
    batchDirs(saved).foreach { d =>
      val live = new File(root, d.getName)
      if (!live.exists()) FileUtils.copyDirectory(d, live)
    }
  }
}

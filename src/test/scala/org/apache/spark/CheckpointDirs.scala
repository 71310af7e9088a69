package org.apache.spark

import java.nio.file.Files

/** Sets a context's checkpoint dir for one block and unsets it after.
  * Spark's public API can set the dir but never clear it; the field
  * behind it is `private[spark]`, hence this package. */
object CheckpointDirs {

  /** Runs `f` with `sc`'s checkpoint dir set to a new temporary
    * directory, passing `f` the directory Spark writes checkpoints
    * under, then unsets the dir. Fails if a dir was already set, or if
    * `f` leaves a different one behind. */
  def withCheckpointDir[A](sc: SparkContext)(f: String => A): A = {
    require(sc.checkpointDir.isEmpty, s"checkpoint dir already set: ${sc.checkpointDir}")
    sc.setCheckpointDir(Files.createTempDirectory("graft-ckpt").toString)
    val dir = sc.checkpointDir.get
    try {
      val out = f(dir)
      assert(sc.checkpointDir.contains(dir),
        s"checkpoint dir changed inside the block: $dir -> ${sc.checkpointDir}")
      out
    } finally sc.checkpointDir = None
  }
}

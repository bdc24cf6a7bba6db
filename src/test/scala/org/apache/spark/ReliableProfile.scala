package org.apache.spark

import java.io.File
import org.apache.spark.sql.SparkSession

/** Runs `body` on the reliable checkpoint profile: a fresh temporary
  * checkpoint directory and `graft.checkpoint.reliable=true`. Afterwards
  * the conf is unset and the context's checkpoint directory restored
  * (`private[spark]`, hence this package), so a suite that expects no
  * directory is not affected by the order suites run in. `body` gets the
  * directory to inspect the checkpoint files. */
object ReliableProfile {
  def apply[T](spark: SparkSession)(body: File => T): T = {
    val sc = spark.sparkContext
    val saved = sc.checkpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(dir.toString)
    spark.conf.set(graft.functions.Checkpoints.ReliableConfKey, "true")
    try body(dir)
    finally {
      spark.conf.unset(graft.functions.Checkpoints.ReliableConfKey)
      sc.checkpointDir = saved
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  /** Names of the `rdd-<id>` checkpoint directories under `dir`. */
  def rddDirs(dir: File): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f else Seq(f)
    walk(dir).filter(_.getName.startsWith("rdd-")).map(_.getName).toSet
  }
}

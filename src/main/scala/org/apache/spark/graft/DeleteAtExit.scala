package org.apache.spark.graft

import java.io.File
import org.apache.spark.util.ShutdownHookManager

/** Registers a dir for recursive deletion when the JVM exits. Spark's hook
  * for this runs after the SparkContext has stopped, so no job still
  * reads the dir. The hook manager is private to Spark's package, hence
  * this file's package.
  */
object DeleteAtExit {
  def apply(dir: String): Unit =
    ShutdownHookManager.registerShutdownDeleteDir(new File(dir))
}

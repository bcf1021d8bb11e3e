package org.apache.spark

/** `SparkContext` can set a checkpoint directory but has no public way to
  * clear one. Specs that set it clear it again, so that later suites in
  * the same JVM keep the local lineage verb. */
object CheckpointDirs {
  def clear(sc: SparkContext): Unit = sc.checkpointDir = None
}

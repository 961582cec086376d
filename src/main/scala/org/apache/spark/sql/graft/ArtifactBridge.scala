package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.artifact.ArtifactManager

/** Bridge to the session artifact manager, which `classic.SparkSession`
  * exposes only to `org.apache.spark.sql` (same placement trick as
  * [[ColumnBridge]]). */
object ArtifactBridge {
  /** Whether `spark` holds session-scoped artifacts (jars, classes or
    * files added to this session only). Its tasks need the session's
    * own executor class loader to see them. The flag is Scala-protected,
    * so it is read through its public bytecode accessor. A session that
    * is not a classic one counts as holding artifacts. */
  def sessionArtifactAdded(spark: SparkSession): Boolean = spark match {
    case s: org.apache.spark.sql.classic.SparkSession =>
      classOf[ArtifactManager].getMethod("sessionArtifactAdded")
        .invoke(s.artifactManager)
        .asInstanceOf[java.util.concurrent.atomic.AtomicBoolean].get()
    case _ => true
  }
}

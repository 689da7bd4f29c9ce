package org.apache.spark.sql.artifact;

/**
 * Reads what an {@link ArtifactManager} holds. The fields are Scala
 * `protected` (public in bytecode), so Scala code outside the class
 * cannot read them; org.apache.spark.sql.GraftBridge reads them here.
 */
public final class GraftArtifacts {
  private GraftArtifacts() {}

  /** Whether the manager's session had jars, classes, files, archives
   *  or python includes added to it. */
  public static boolean holdsArtifacts(ArtifactManager am) {
    return am.sessionArtifactAdded().get()
        || !am.sparkContextRelativePaths().isEmpty()
        || !am.pythonIncludeList().isEmpty();
  }
}

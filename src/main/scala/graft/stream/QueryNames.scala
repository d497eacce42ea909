package graft.stream

/** Stable per-instance streaming query names.
  *
  * A FIXED query name ("graft-cdc-pipeline") means two connectors in one
  * SparkSession collide at `start()` ("query with that name is already
  * active") — the reference supports multiple connector instances per
  * process. The suffix is a digest of the checkpoint location: unique per
  * pipeline instance (each has its own checkpoint ≙ replication slot),
  * and STABLE across restarts of the same instance, so dashboards and
  * the metrics listener's name filter keep working after a restart.
  */
object QueryNames {

  /** Canonical spelling of the checkpoint location: trivially different
    * spellings of the same directory ('/ckpt' vs '/ckpt/', 'a/./b',
    * relative vs absolute local paths) must map to ONE suffix — the name
    * is the restart-stable identity. Scheme-less relative paths resolve
    * against the process cwd (matching what the checkpoint writer itself
    * does) via PURE path arithmetic — deliberately NOT
    * `getCanonicalPath`: symlink resolution would make relative and
    * absolute spellings of the same dir diverge whenever cwd sits behind
    * a symlink (only one branch would resolve it), can throw IOException
    * at Connector construction, and ties the "restart-stable" name to
    * live filesystem state. URIs (hdfs://, s3a://) normalize via Hadoop
    * `Path` without touching the filesystem.
    */
  private def canonical(checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    if (p.toUri.getScheme == null && !p.isAbsolute)
      new org.apache.hadoop.fs.Path(
        java.nio.file.Paths.get(checkpointDir)
          .toAbsolutePath.normalize.toString).toString
    else p.toString
  }

  /** First 12 hex chars of md5(canonical path): 48 bits, so a collision
    * between two live connectors is negligible — the previous 32-bit
    * `String.hashCode` both clustered structurally-similar paths and
    * would recreate the start()-time name clash on a collision.
    */
  def suffix(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(canonical(checkpointDir).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString

  /** The name of every graft query: `graft-<kind>-<suffix>`. */
  private[stream] def of(kind: String, checkpointDir: String): String =
    s"graft-$kind-${suffix(checkpointDir)}"

  def cdcPipeline(checkpointDir: String): String =
    of("cdc-pipeline", checkpointDir)
}

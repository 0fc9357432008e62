package graft

/** Local-filesystem helpers for the runner mains (benchmark fixtures,
  * scratch roots). Spark-managed data goes through Hadoop `FileSystem`;
  * these exist for the java.io paths around it.
  */
object Fs {

  /** Recursive delete that never follows symlinks: a link is removed as
    * a link, its target untouched. The benchmark fixtures symlink shared
    * source tables (e.g. the `serve_refresh` probe links `customer.parquet`
    * into its work dir) — a follow-links delete (java.io listFiles traverses
    * symlinked directories) would silently destroy the shared fixture on
    * the second run.
    */
  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }
}

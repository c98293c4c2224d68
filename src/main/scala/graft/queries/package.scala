package graft

/** Shared helpers for the query-definition files. */
package object queries {

  /** Render a Scala string list as a DuckDB list literal — one
    * implementation shared by every oracle that embeds the stopword
    * lists (previously copy-pasted per file). */
  private[queries] def duckList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Per-process scratch directory under java.io.tmpdir: two graft
    * JVMs on one host (a verify overlapping a bench on CI) must not
    * clobber each other's on-disk indexes mid-probe — fixed shared
    * paths made that a silent wrong-rows race. Stable WITHIN a JVM so
    * bench iterations reuse their index; distinct across JVMs, and
    * deleted when the JVM exits (they are keyed by pid, so nothing
    * else would ever reclaim them). */
  private[graft] def scratchPath(name: String): String = {
    val p = s"${sys.props("java.io.tmpdir")}/graft_${ProcessHandle.current().pid()}_$name"
    scratchDirs.add(p)
    p
  }

  private lazy val scratchDirs = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    sys.addShutdownHook(dirs.forEach(d =>
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d))))
    dirs
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** Session-identity and scratch-directory plumbing shared by the
  * per-session query cache (streamTopkRuns) and every query that
  * replays through a file feed. */
object SessionScoped {

  /** Stable string identity for a session, usable as a cache key WITHOUT
    * pinning the session object (a map keyed by the SparkSession itself
    * holds every closed session's whole state graph for the JVM
    * lifetime). Identity hash, not a UUID (`sessionUUID` is
    * private[sql]): the artifacts cached under it are deterministic
    * functions of the DATA DIR alone, so even a hash collision between
    * two sessions only reuses a byte-identical artifact. */
  def key(s: SparkSession): String = System.identityHashCode(s).toString

  private val registered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach { root =>
        try {
          val walk = java.nio.file.Files.walk(root)
          val paths =
            try walk.sorted(java.util.Comparator.reverseOrder())
              .toArray(new Array[java.nio.file.Path](_))
            finally walk.close()
          paths.foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Exception => () } // best-effort: never block exit
      }
    }, "graft-scratch-janitor"))
  }

  /** Create a scratch dir deleted recursively at JVM exit. Deletion is
    * exit-time, not eager, because several queries SHARE a run dir
    * across calls within one session (the q_stream_topk pair, plan
    * audits re-reading a feed) — the dir stays readable for the whole
    * driver process, then goes. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }
}

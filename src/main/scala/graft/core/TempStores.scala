package graft.core

/** Scratch directories for queries that exercise the persistent-store
  * paths (g35 graph upsert, p58 streaming dedup). Each invocation needs a
  * FRESH store for reproducibility (the bench runs every query twice), but
  * the returned DataFrames read the store lazily, so the directory cannot
  * be deleted eagerly — it is reclaimed on JVM exit instead. Without this,
  * every bench/verify run leaked two stores per store-backed query.
  */
object TempStores {

  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      created.forEach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
    }, "graft-temp-store-cleanup"))
  }

  /** A fresh temp directory, registered for recursive deletion at JVM exit. */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    created.add(dir)
    dir.toString
  }
}

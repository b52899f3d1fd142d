package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException}

/** The one store for memoized per-dataset assets (MinHash signatures,
  * component labels, exact-pair tables, layout assets, trained models).
  * Each asset is computed once per JVM and then re-read by every consumer
  * query — the production amortization shape — so a bench median over
  * repeats reports PROBE time. The store also keeps the build-cost ledger:
  * the self seconds of each first-touch build, so the bench artifact can
  * carry them separately (`assets_s`) and nobody misreads a 0.2 s probe
  * as the cost of building the asset from cold.
  *
  * Lifecycle, for every asset: built at most once per (name, key) with no
  * lock shared between keys; a build that throws caches nothing (the next
  * call rebuilds); every temp directory is registered before its write
  * starts, deleted at once if the write throws, and otherwise swept by the
  * single JVM shutdown hook below. Dataset dirs are immutable by this
  * engine's convention, so a memoized asset cannot go stale.
  */
object Assets {
  private val builds = scala.collection.concurrent.TrieMap.empty[String, Double]
  private val memo = new ConcurrentHashMap[(String, Any), CompletableFuture[Any]]
  private val dirs = ConcurrentHashMap.newKeySet[Path]()

  /** Nanoseconds the current thread has spent inside nested [[once]] calls
    * of the build it is running: subtracted from that build's ledger entry,
    * so a dependency built on first touch is counted once, under its own
    * name. */
  private val nestedNs = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  sys.addShutdownHook(dirs.forEach(p => delete(p)))

  /** The value of `build` for `(name, key)`, built on the first call and
    * shared by every later one. A concurrent first touch of the same key
    * waits for that build; other keys never wait on it. The build's self
    * seconds (net of nested `once` calls) are ledgered under `name` — a
    * later build for another key overwrites them, since the bench runs one
    * dataset per JVM and the last build is the one its medians amortize.
    * A build that throws caches nothing: the exception reaches every
    * caller waiting on it, and the next call builds again. */
  def once[T](name: String, key: Any)(build: => T): T = {
    val outer = nestedNs.get
    nestedNs.set(0L)
    val t0 = System.nanoTime()
    try {
      val k = (name, key)
      val mine = new CompletableFuture[Any]
      memo.putIfAbsent(k, mine) match {
        case null =>
          try {
            val v = build
            builds.put(name, (System.nanoTime() - t0 - nestedNs.get) / 1e9)
            mine.complete(v)
            v
          } catch { case e: Throwable =>
            memo.remove(k, mine)
            mine.completeExceptionally(e)
            throw e
          }
        case other =>
          try other.get().asInstanceOf[T]
          catch { case e: ExecutionException => throw e.getCause }
      }
    } finally nestedNs.set(outer + (System.nanoTime() - t0))
  }

  /** [[once]] around a fresh temp directory: `write` fills it, and the
    * directory's path is the memoized value. The directory is registered
    * with the sweep before `write` runs and deleted if `write` throws. */
  def dir(name: String, key: Any)(write: String => Unit): String =
    once(name, key) {
      val out = tempDir(s"graft-$name")
      try write(out)
      catch { case e: Throwable => delete(Paths.get(out)); throw e }
      out
    }

  /** A new temp directory, deleted by the shutdown sweep. */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  private def delete(root: Path): Unit =
    try {
      if (Files.exists(root))
        scala.util.Using.resource(Files.walk(root)) { w =>
          w.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
        }
      dirs.remove(root)
    } catch { case _: Throwable => () }

  /** All recorded builds (asset name → build self seconds). */
  def snapshot: Map[String, Double] = builds.toMap
}

package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of engine state that lives outside a DataFrame. Each
  * kind of state has one home:
  *
  *  - derived values (a resolved relation, a corpus count, learned BPE
  *    rules) live in the [[memo]];
  *  - write-once artifacts (layouts, fixtures, derived corpora) live in
  *    the warehouse, built by [[artifact]];
  *  - per-invocation output lives in a [[scratchDir]], under a root
  *    that is deleted when the application ends.
  *
  * The first memo or scratch use on a SparkContext registers one
  * listener that, at application end, deletes the scratch root and
  * drops the memo slots bound to that context.
  */
object SessionResources {

  /** A memoized value: the session that built it, the source it was
    * derived from, and the source's modification time at build.
    */
  private final case class Slot(session: SparkSession, source: String,
      mtime: Long, value: Any)

  /** The memo: one slot per key, so at most one session is held per key. */
  private val slots = new ConcurrentHashMap[String, Slot]()

  /** Contexts whose end-of-application cleanup is registered. */
  private val bound = ConcurrentHashMap.newKeySet[SparkContext]()

  private val scratchCounter = new AtomicInteger(0)

  /** The value memoized under `key`, built by `build` on a miss. It is
    * served only to the session that built it, and only while the
    * modification time of `source` (one `getFileStatus`, no job) is
    * unchanged: a rewritten source is rebuilt from, not served stale.
    * A different session builds its own value, which replaces the
    * slot. `build` runs outside any lock, so it may use the memo itself;
    * two racing misses both build, and the later one keeps the slot.
    */
  def memo[T](s: SparkSession, key: String, source: String)(build: => T): T = {
    bind(s.sparkContext)
    val mtime = modTime(s, source)
    val c = slots.get(key)
    if (c != null && (c.session eq s) && c.mtime == mtime) c.value.asInstanceOf[T]
    else {
      val v = build
      slots.put(key, Slot(s, source, mtime, v))
      v
    }
  }

  /** Drop every slot derived from `dir` or from a path under it. */
  private[graft] def forget(dir: String): Unit =
    slots.values.removeIf(c => c.source == dir || c.source.startsWith(dir + "/"))

  private[graft] def memoSize: Int = slots.size

  /** Modification time of `path`, or -1 when it does not exist (a read
    * that follows then fails with Spark's own error).
    */
  private def modTime(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L }
  }

  /** Injective, identifier-safe key of a data dir: its absolute path
    * with every character outside `[A-Za-z0-9_]` folded to `_` (so it
    * can name a table), then `_` and the first 16 hex digits of the
    * SHA-256 of the absolute path. The folding alone is not injective
    * (`/d/a_b/c` and `/d/a/b_c`, `sf0.1` and `sf0_1` fold alike); the
    * digest separates them.
    */
  private[graft] def key(d: String): String = {
    val abs = new java.io.File(d).getAbsolutePath
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    abs.replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      sha.take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Where the artifact `name` of data dir `d` lives:
    * `<warehouse>/<name>_<key(d)>` (the warehouse is a static conf).
    */
  private[graft] def artifactDir(s: SparkSession, d: String, name: String): Path =
    Paths.get(new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath,
      s"${name}_${key(d)}")

  /** The write-once artifact `name` of data dir `d`, built by `write`
    * if its `_SUCCESS` marker is absent, and returned as its dir. A dir
    * without the marker (a killed build) is cleared first; `write`
    * fills the dir and the marker goes in last (a Spark write straight
    * into the dir leaves its own at commit). Memo slots derived from
    * the dir are then dropped. Builds run under one JVM-wide lock; a
    * present marker is a lock-free hit, so every later call and every
    * later session re-attaches and never rebuilds.
    */
  def artifact(s: SparkSession, d: String, name: String)(write: Path => Unit): Path = {
    val dir = artifactDir(s, d, name)
    if (!built(dir)) synchronized {
      if (!built(dir)) {
        Tables.deleteTree(dir)
        write(dir)
        if (!built(dir)) Files.createFile(dir.resolve("_SUCCESS"))
        forget(dir.toString)
      }
    }
    dir
  }

  /** Whether `dir` holds a complete artifact (its `_SUCCESS` marker). */
  private[graft] def built(dir: Path): Boolean = Files.exists(dir.resolve("_SUCCESS"))

  /** A fresh, empty dir for one invocation's output, named
    * `<prefix>_<n>` under `java.io.tmpdir/graft_scratch_<applicationId>`.
    * It outlives the invocation (a lazy DataFrame may still read it)
    * and is deleted with the whole root when the application ends.
    */
  def scratchDir(s: SparkSession, prefix: String): String = {
    val sc = s.sparkContext
    bind(sc)
    val dir = scratchRoot(sc).resolve(s"${prefix}_${scratchCounter.incrementAndGet()}")
    Files.createDirectories(dir)
    dir.toString
  }

  private def scratchRoot(sc: SparkContext): Path =
    Paths.get(System.getProperty("java.io.tmpdir"), s"graft_scratch_${sc.applicationId}")

  /** Registers, once per context, the end-of-application cleanup. */
  private def bind(sc: SparkContext): Unit =
    if (bound.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        slots.values.removeIf(_.session.sparkContext eq sc)
        Tables.deleteTree(scratchRoot(sc))
        bound.remove(sc)
      }
    })
}

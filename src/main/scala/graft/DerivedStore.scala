package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of derived stores: every served artifact (postings, models,
  * dictionaries, media tables, ...) that is built once per source version
  * and only read after that. This object alone knows a store's key, its
  * root and the build-once policy.
  *
  * Key: `$root/graft-$kind-$tag`, one path per (kind, source dir, source
  * content version). A source rewrite yields a NEW path, so a stale store is
  * never read again, and a shared root lets a later JVM reuse a finished
  * build. The kind string is the store's layout identity: a builder whose
  * layout or schema changes gets a new kind (`postingsbkt2` → `postingsbkt3`).
  *
  * Build once: a JVM-wide set of resolved paths is the fast path. On a miss
  * the caller takes THAT path's lock (never a global one: cold stores build
  * in parallel), promotes a complete staging a crash left behind, and
  * builds only if nothing lives at the path. A builder may resolve the
  * stores it depends on inline: it holds only its own path's lock, and the
  * store dependency graph has no cycles.
  */
object DerivedStore {

  /** Driver-local default root; `spark.graft.store.dir` points it at a
    * shared filesystem on a real cluster (scheme-qualified paths resolve
    * their own FS through AtomicSwap and the loaders). Its name is fresh per
    * JVM, so no later JVM can reuse it: it is deleted when the JVM exits.
    */
  private lazy val localRoot = {
    val root = java.nio.file.Files.createTempDirectory("graft-stores-").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(root))
    root.toString
  }

  private val resolved = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The store's location for the CURRENT content of `$dir/$source`. */
  def path(spark: SparkSession, kind: String, dir: String, source: String): String = {
    val root = spark.conf.getOption("spark.graft.store.dir").getOrElse(localRoot)
    val version = Tables.contentVersion(spark, s"$dir/$source")
    s"$root/graft-$kind-${tag(s"$dir@$version")}"
  }

  /** 64 bits of SHA-256 in hex: wide enough that two source dirs never
    * share a store (a 32-bit `String.hashCode` maps `…Aa` and `…BB` to one
    * tag), and free of `-`, which ends the kind in a store dir's name.
    */
  private[graft] def tag(key: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${java.nio.ByteBuffer.wrap(d).getLong}%016x"
  }

  /** Resolve the store, building it first if nothing lives at its path;
    * returns the path. `build` gets the path and must write it atomically
    * (`AtomicSwap.replace`/`replaceWith`/`replaceParts`,
    * `IncrementalPostings.upsert`, `IncrementalVectors.upsert`). A build
    * that throws memoizes nothing: the next call builds again.
    */
  def ensure(spark: SparkSession, kind: String, dir: String, source: String)
            (build: String => Unit): String = {
    val p = path(spark, kind, dir, source)
    if (!resolved.contains(p)) locks.computeIfAbsent(p, _ => new Object).synchronized {
      if (!resolved.contains(p)) {
        graft.sinks.AtomicSwap.recover(spark, p)
        if (!graft.sinks.AtomicSwap.fs(spark, p).exists(new org.apache.hadoop.fs.Path(p)))
          build(p)
        resolved.add(p)
      }
    }
    p
  }

  /** A one-relation parquet store: `df` written once, then served. */
  def parquet(spark: SparkSession, kind: String, dir: String, source: String)
             (df: => DataFrame): DataFrame =
    Tables.parquetCached(spark,
      ensure(spark, kind, dir, source)(graft.sinks.AtomicSwap.replace(spark, df, _)))
}

package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One persisted root — the corpus table, an IVF index, a PQ root or a
  * binary sign-code root — as the lifecycle core sees it: the root
  * directory every cache and hook is keyed on, the subdirectory holding
  * its rows (empty when the rows sit in the root itself), the partition
  * columns in directory-nesting order (empty for a flat root), and the
  * sidecar directories a copy-compact must carry along. Each root kind
  * builds its own description; the mutations themselves live once, in
  * [[PersistedRoot$ the companion]]. */
private[graft] final case class PersistedRoot(path: String,
    dataSubdir: String, parts: Seq[String],
    sidecars: Seq[PersistedRoot.Sidecar] = Nil) {
  def dataPath: String =
    if (dataSubdir.isEmpty) path else s"$path/$dataSubdir"
}

/** How a persisted root is mutated: one append tail, one
  * partition-scoped delete, one copy-compact, one full rewrite, and one
  * [[invalidate]] that ends every one of them. The root-specific encode
  * (IVF assignment + SQ8, PQ codes, binary pack) stays with its
  * operator; everything after the encoded rows exist happens here. */
private[graft] object PersistedRoot {

  /** A sidecar directory `name` under the root. `from` is where the live
    * copy sits in the SOURCE root (an IVF root's centroid pointer can
    * name a generation directory); the compacted root gets it back
    * under `name`. A `required` sidecar fails the compact when it
    * cannot be copied; an optional one is copied when present. */
  final case class Sidecar(name: String, from: String, required: Boolean)
  object Sidecar {
    def optional(name: String): Sidecar = Sidecar(name, name, false)
  }

  /** Land `rows` (already encoded by the root's operator) in the root's
    * layout — into the existing partition directories, so a two-level
    * component/cluster root stays two-level — then invalidate. */
  def append(spark: SparkSession, r: PersistedRoot, rows: DataFrame): Unit = {
    rows.write.mode(SaveMode.Append).partitionBy(r.parts: _*)
      .parquet(r.dataPath)
    invalidate(spark, r.path)
  }

  /** A wholesale rebuild: overwrite the rows, write the sidecars, then
    * invalidate — so no reader in this JVM is served the old root's
    * cached metadata or derived artifacts. */
  def rewrite(spark: SparkSession, r: PersistedRoot, rows: DataFrame)(
      writeSidecars: => Unit): Unit = {
    rows.write.mode(SaveMode.Overwrite).partitionBy(r.parts: _*)
      .parquet(r.dataPath)
    writeSidecars
    invalidate(spark, r.path)
  }

  /** write one small sidecar frame as a single file under the root */
  def writeSidecar(r: PersistedRoot, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"${r.path}/$name")

  /** Targeted deletion as a PARTITION-SCOPED rewrite — the
    * right-to-be-forgotten pass and the removed/changed leg of a CDC
    * cycle. Only the partitions that hold a doomed id are rewritten
    * (survivors minus the ids, dynamic partition overwrite as a
    * PER-WRITER option — flipping the session conf would hand
    * dynamic-overwrite semantics to any concurrent write); every other
    * partition keeps its exact files. A flat root is one partition: any
    * hit rewrites the directory, and a root whose every row is deleted
    * still reads back as an empty frame with its schema.
    *
    * `data` is the root's rows as the caller read them from
    * `r.dataPath`; `ids` is a 1-column frame of doomed id values. The
    * affected partition tuples come from a semi-join collect (bounded
    * by the PARTITION count, not the corpus); the survivor scan filters
    * on them as literals, so it lists only those directories. Dynamic
    * overwrite never visits a partition with ZERO survivors — its stale
    * files would silently outlive the delete — so those directories are
    * removed explicitly. Deletes of unknown ids are no-ops, and
    * re-running the same delete is one. NOT atomic across partitions: a
    * crash mid-write is healed by re-running. Returns the affected
    * partition tuples (empty = nothing touched). */
  def delete(spark: SparkSession, r: PersistedRoot, data: DataFrame,
      idCol: String, ids: DataFrame): Seq[Row] = {
    require(ids.schema.fields.length == 1,
      s"ids must be a 1-column frame, got ${ids.schema.simpleString}")
    val doomed = ids.distinct()
      .withColumnRenamed(ids.columns.head, "__doomed_id")
    val affected = data
      .join(doomed, data(idCol) === col("__doomed_id"), "left_semi")
      .select(r.parts.map(col): _*).distinct().collect().toSeq
    if (affected.nonEmpty) {
      def tuple(row: Row) = struct(r.parts.indices.map(i =>
        lit(row.get(i)).as(r.parts(i))): _*)
      val scoped =
        if (r.parts.isEmpty) data
        else data.filter(struct(r.parts.map(col): _*)
          .isin(affected.map(tuple): _*))
      // materialized BEFORE the write: the rewrite reads the path it
      // overwrites, and Spark refuses a lazy read-while-overwrite
      val survivors = scoped
        .join(doomed, data(idCol) === col("__doomed_id"), "left_anti")
        .localCheckpoint()
      survivors.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(r.parts: _*).parquet(r.dataPath)
      if (r.parts.nonEmpty) {
        val surviving = survivors.select(r.parts.map(col): _*).distinct()
          .collect().toSet
        val root = new Path(r.dataPath)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        affected.filterNot(surviving).foreach { row =>
          val rel = r.parts.zipWithIndex
            .map { case (p, i) => s"$p=${row.get(i)}" }.mkString("/")
          fs.delete(new Path(root, rel), true)
        }
      }
      invalidate(spark, r.path)
    }
    affected
  }

  /** Copy-compact `data` (the source root's rows, possibly deduplicated
    * by the caller) into the fresh root `destPath`: a partitioned root
    * is shuffled on its partition columns, a flat one into
    * ⌈rows / targetRowsPerFile⌉ files (maxRecordsPerFile alone bounds
    * sizes but keeps one output file per input task, so N tiny appends
    * would come out as N tiny files); `maxRecordsPerFile` bounds sizes
    * either way and the layout is kept. Every sidecar is copied
    * byte-for-byte. Copy-based, never in-place: Spark refuses to
    * overwrite a path it reads, and delete-then-rewrite would lose the
    * live root on a mid-job failure — swap readers to `destPath`
    * afterwards. `destPath`'s caches are invalidated at the end, so
    * compacting onto a previously-used root serves nothing stale. */
  def compact(spark: SparkSession, r: PersistedRoot, data: DataFrame,
      destPath: String, targetRowsPerFile: Long): Unit = {
    requireDisjointRoots(spark, r.path, destPath)
    val shuffled =
      if (r.parts.nonEmpty) data.repartition(r.parts.map(col): _*)
      else data.repartition(math.max(1L,
        (data.count() + targetRowsPerFile - 1L) / targetRowsPerFile).toInt)
    shuffled.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .partitionBy(r.parts: _*)
      .parquet(r.copy(path = destPath).dataPath)
    val conf = spark.sessionState.newHadoopConf()
    for (sc <- r.sidecars) {
      val src = new Path(s"${r.path}/${sc.from}")
      val srcFs = src.getFileSystem(conf)
      if (sc.required || srcFs.exists(src)) {
        val dst = new Path(s"$destPath/${sc.name}")
        val dstFs = dst.getFileSystem(conf)
        val copied =
          try org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst,
            false, conf)
          catch { case _: java.io.FileNotFoundException => false }
        require(copied && dstFs.exists(dst),
          s"compact: sidecar ${sc.name} copy to $dst failed — $destPath " +
            "is incomplete; re-run compact")
      }
    }
    invalidate(spark, destPath)
  }

  /** The copy-compact disjointness guard. Compares HADOOP-qualified
    * paths: qualification resolves scheme, authority, and relative paths
    * against the filesystem's working directory, so equal or
    * ancestor/descendant roots are caught in any spelling (a raw string
    * comparison lets `file:/root/x` vs `/root/x` through, and the lazy
    * read + Overwrite would then delete the source mid-job).
    * Qualification alone leaves `..` segments and symlinks unresolved,
    * so the qualified URI is normalized and, on the local filesystem,
    * canonicalized via `java.io.File` — which resolves symlinks on the
    * existing prefix even when the leaf (a not-yet-written destPath)
    * does not exist. Remote schemes get best-effort
    * `FileSystem.resolvePath`. */
  private def requireDisjointRoots(spark: SparkSession,
      srcPath: String, destPath: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    def qualified(p: String) = {
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      // qualify first (now absolute), then URI-normalize the '..'/'.'
      // segments Hadoop Path preserves
      val norm = new Path(fs.makeQualified(hp).toUri.normalize())
      if (norm.toUri.getScheme == "file")
        fs.makeQualified(
          new Path(new java.io.File(norm.toUri.getPath).getCanonicalPath))
      else
        try fs.resolvePath(norm)
        catch { case _: java.io.IOException => norm }
    }
    val (s, d) = (qualified(srcPath), qualified(destPath))
    def covers(a: Path, b: Path) =
      (b.toString + "/").startsWith(a.toString + "/")
    require(!covers(s, d) && !covers(d, s),
      s"compact is copy-based: destPath must be disjoint from srcPath " +
        s"(got $s vs $d)")
  }

  /** Invalidation hooks for DERIVED artifacts keyed on a root that
    * live outside [[cached]] — materialized graphs, downstream caches.
    * [[invalidate]] fires every registered hook with the mutated root.
    * Hooks must be idempotent and cheap; exceptions propagate (a failed
    * invalidation is corruption-in-waiting, not a warning). */
  private val hooks =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  def onInvalidated(hook: String => Unit): Unit = hooks.add(hook)

  /** The one call that ends every mutation of `root`: drop the
    * session's cached file listings under it (a reader whose listing
    * predates the mutation would miss new rows or plan against replaced
    * files), every [[cached]] entry at or under it, then every
    * registered hook. */
  def invalidate(spark: SparkSession, root: String): Unit = {
    spark.catalog.refreshByPath(root)
    val q = qualified(spark, root)
    metaCache.keySet.removeIf(k => atOrUnder(q, k._1))
    val it = hooks.iterator()
    while (it.hasNext) it.next().apply(root)
  }

  /** One cached value: the stamp it was parsed under, its insertion
    * number for the oldest-first eviction, and the heap bytes it holds
    * against a byte budget (0 for metadata, which only the entry count
    * bounds). */
  private final case class Entry(stamp: String, value: Any, seq: Long,
      bytes: Long = 0L)

  /** The driver's one cache of metadata parsed from persisted roots —
    * IVF centroids and SQ8 grids, PQ books, root metadata and data
    * schemas — keyed on (fs-qualified path, kind), one (stamp, value)
    * per key. Entries are plain values (no session references), so
    * they are safe across sessions in one JVM. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Entry]()
  private val inserts = new java.util.concurrent.atomic.AtomicLong()

  /** Bound on [[metaCache]]: a long-lived driver that builds a fresh
    * temp root per job would otherwise grow it for the JVM's lifetime.
    * Past it the OLDEST-inserted entry goes, so a root just written and
    * read back keeps its entry. */
  private val MaxCachedEntries = 256

  private def atOrUnder(root: String, path: String): Boolean =
    path == root || path.startsWith(root + "/")

  private def qualified(spark: SparkSession, path: String): String = {
    val (fs, p) = fileSystem(spark, path)
    fs.makeQualified(p).toString
  }

  /** The value parsed from `path` for `kind`, served while the files it
    * derives from still carry `stamp` (typically [[fsStamp]] of them):
    * a changed stamp means they were rewritten — in this JVM or by
    * another process, which no hook can see — so `load` runs again and
    * its value replaces the entry. `fs` is the handle the stamp was
    * taken with; it qualifies the path, so every spelling of a root
    * shares one entry. `load` runs outside any map operation (it may
    * itself read other entries); two threads that miss at once may both
    * load, which is harmless. */
  def cached[V](fs: FileSystem, path: Path, kind: String, stamp: String)(
      load: => V): V = {
    val key = (fs.makeQualified(path).toString, kind)
    val hit = metaCache.get(key)
    if (hit != null && hit.stamp == stamp) hit.value.asInstanceOf[V]
    else {
      val v = load
      if (hit == null && metaCache.size >= MaxCachedEntries)
        evictOldest(_ => true)
      metaCache.put(key, Entry(stamp, v, inserts.incrementAndGet()))
      v
    }
  }

  /** [[cached]] for values that hold data rather than metadata: `load`
    * returns the value with the heap bytes it holds, and every sized
    * entry, of any root and kind, shares one byte `budget`. A hit is
    * served only while its bytes fit the caller's budget; admitting a
    * value evicts the OLDEST-inserted sized entries until the total
    * fits, and a value larger than the whole budget is returned
    * without being kept. */
  def cachedSized[V](fs: FileSystem, path: Path, kind: String, stamp: String,
      budget: Long)(load: => (V, Long)): V = {
    val key = (fs.makeQualified(path).toString, kind)
    val hit = metaCache.get(key)
    if (hit != null && hit.stamp == stamp && hit.bytes <= budget)
      hit.value.asInstanceOf[V]
    else {
      val (v, bytes) = load
      if (bytes <= budget) metaCache.synchronized {
        metaCache.remove(key)
        def sized = {
          var total = 0L
          metaCache.values.forEach(e => total += e.bytes)
          total
        }
        while (sized + bytes > budget && evictOldest(_.bytes > 0L)) ()
        if (metaCache.size >= MaxCachedEntries) evictOldest(_ => true)
        metaCache.put(key, Entry(stamp, v, inserts.incrementAndGet(), bytes))
      }
      v
    }
  }

  /** drop the oldest-inserted entry among those `eligible`; false when
    * there is none */
  private def evictOldest(eligible: Entry => Boolean): Boolean = {
    var oldest: java.util.Map.Entry[(String, String), Entry] = null
    metaCache.entrySet.forEach(e =>
      if (eligible(e.getValue) &&
        (oldest == null || e.getValue.seq < oldest.getValue.seq)) oldest = e)
    oldest != null && metaCache.remove(oldest.getKey, oldest.getValue)
  }

  /** the (qualified path, kind) keys [[cached]] holds at or under
    * `root` */
  private[graft] def cachedKeys(spark: SparkSession,
      root: String): Seq[(String, String)] = {
    val q = qualified(spark, root)
    import scala.jdk.CollectionConverters._
    metaCache.keySet.asScala.filter(k => atOrUnder(q, k._1)).toSeq
  }

  /** the bytes the sized entries ([[cachedSized]]) at or under `root`
    * hold */
  private[graft] def cachedBytes(spark: SparkSession, root: String): Long = {
    val q = qualified(spark, root)
    var total = 0L
    metaCache.forEach((k, e) => if (atOrUnder(q, k._1)) total += e.bytes)
    total
  }

  /** Cheap content stamp of ONE directory level: name:length:mtime of
    * every entry from a single non-recursive `listStatus` — no Spark
    * job, no file reads. A missing path stamps as "absent" (the legacy
    * no-sidecar layouts are a real, supported state).
    *
    * Granularity: only the listed level is stamped (nested directories
    * contribute their own name:length:mtime, not their contents), and a
    * rewrite that keeps every file's name and length and lands within
    * the file system's mtime tick of the previous write yields the SAME
    * stamp — such a rewrite goes undetected until [[invalidate]]. */
  def fsStamp(fs: FileSystem, path: Path): String =
    try {
      fs.listStatus(path).sortBy(_.getPath.getName)
        .map(st =>
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .mkString(";")
    } catch { case _: java.io.FileNotFoundException => "absent" }

  /** the file system of `path` under the session's Hadoop conf, with
    * the path — the handle [[cached]] and [[fsStamp]] take */
  def fileSystem(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }
}

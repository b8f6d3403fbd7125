package graft.sources

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
        val root = new org.apache.hadoop.fs.Path(r.dataPath)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        affected.filterNot(surviving).foreach { row =>
          val rel = r.parts.zipWithIndex
            .map { case (p, i) => s"$p=${row.get(i)}" }.mkString("/")
          fs.delete(new org.apache.hadoop.fs.Path(root, rel), true)
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
      val src = new org.apache.hadoop.fs.Path(s"${r.path}/${sc.from}")
      val srcFs = src.getFileSystem(conf)
      if (sc.required || srcFs.exists(src)) {
        val dst = new org.apache.hadoop.fs.Path(s"$destPath/${sc.name}")
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
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      // qualify first (now absolute), then URI-normalize the '..'/'.'
      // segments Hadoop Path preserves
      val norm = new org.apache.hadoop.fs.Path(
        fs.makeQualified(hp).toUri.normalize())
      if (norm.toUri.getScheme == "file")
        fs.makeQualified(new org.apache.hadoop.fs.Path(
          new java.io.File(norm.toUri.getPath).getCanonicalPath))
      else
        try fs.resolvePath(norm)
        catch { case _: java.io.IOException => norm }
    }
    val (s, d) = (qualified(srcPath), qualified(destPath))
    def covers(a: org.apache.hadoop.fs.Path,
        b: org.apache.hadoop.fs.Path) =
      (b.toString + "/").startsWith(a.toString + "/")
    require(!covers(s, d) && !covers(d, s),
      s"compact is copy-based: destPath must be disjoint from srcPath " +
        s"(got $s vs $d)")
  }

  /** Invalidation hooks for DERIVED artifacts keyed on a root —
    * materialized kNN graphs, parsed sidecars, downstream caches.
    * [[invalidate]] fires every registered hook with the mutated root,
    * so a cache owner that cannot be reached from here (e.g.
    * [[graft.SparkEntry]]'s per-corpus graph-path cache) can drop its
    * entry instead of silently serving a stale artifact. Hooks must be
    * idempotent and cheap; exceptions propagate (a failed invalidation
    * is corruption-in-waiting, not a warning). */
  private val hooks =
    new java.util.concurrent.CopyOnWriteArrayList[String => Unit]()
  def onInvalidated(hook: String => Unit): Unit = hooks.add(hook)

  /** The one call that ends every mutation of `root`: drop the
    * session's cached file listings under it (a reader whose listing
    * predates the mutation would miss new rows or plan against replaced
    * files), the auto-probe rule's driver caches, the IVF load-metadata
    * cache, then every registered hook. */
  def invalidate(spark: SparkSession, root: String): Unit = {
    spark.catalog.refreshByPath(root)
    graft.plans.IvfAutoProbe.invalidate(spark, root)
    graft.operators.IvfIndex.evictLoadMeta(root)
    val it = hooks.iterator()
    while (it.hasNext) it.next().apply(root)
  }
}

package graft.pipeline

import org.apache.spark.sql.SparkSession

/** The persisted-index protocol shared by every index family in this
  * library (IVF/IVF-PQ vector indexes, the LSH and SRP band indexes):
  * the sidecar read and the generational manifest-flip lifecycle.
  *
  * SIDECARS are config dirs inside an index dir (`_codebook`,
  * `_pqbooks`, `_lshmeta`, `_srpmeta`), written LAST by every build.
  * [[hasSidecar]] is the one "committed" test: part-files exist under
  * the dir. A crash during the sidecar write leaves the dir holding only
  * `_temporary`, and a bare exists() check would hand that to a parquet
  * read that fails with an untyped schema-inference error.
  * [[requireSidecar]] turns every uncommitted sidecar into the same
  * curated IllegalArgumentException on every read path.
  *
  * GENERATIONS:
  *
  * {{{
  * root/
  *   _manifest/v00000001   (text: the current generation's dir name)
  *   gen-00000001/         (a complete index dir, sidecar(s) inside)
  *   gen-00000002/
  * }}}
  *
  * The manifest is VERSIONED, not overwritten: installing a new
  * generation creates ONE new file (`create(..., overwrite=false)` — a
  * single atomic visibility event on HDFS-like stores, and a new key on
  * object stores, where delete+rewrite of a single pointer file would
  * have a read-nothing window). Readers list `_manifest`, take the
  * HIGHEST version, and resolve its generation — a reader racing a swap
  * sees either the old or the new index, never a torn one (the
  * generation dir and its sidecars are fully written BEFORE the manifest
  * entry exists). Old generations stay readable until
  * [[retireOldGenerations]] deletes them — the swap and the retire are
  * separate steps on purpose (in-flight queries resolved the old path;
  * retire after their horizon passes). */
private[pipeline] object IndexManifest {

  private val ManifestDir = "_manifest"
  private val GenPrefix = "gen-"
  private val VersionRe = "v(\\d{8})".r
  private val GenRe = "gen-(\\d{8})".r

  private def fs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Whether `indexPath/dir` holds a committed sidecar (part-files, not
    * just the `_temporary` litter of a write torn mid-flight). */
  def hasSidecar(spark: SparkSession, indexPath: String, dir: String): Boolean = {
    val (f, p) = fs(spark, s"$indexPath/$dir")
    f.exists(p) &&
      Option(f.globStatus(new org.apache.hadoop.fs.Path(s"$p/part-*"))).exists(_.nonEmpty)
  }

  /** The committed sidecar dir `indexPath/dir` (its file system and
    * path, the identity a [[SidecarCache]] keys on), or a curated
    * IllegalArgumentException naming the family (`what`) and the entry
    * point that builds one (`buildHint`). Explicit reads of the
    * underscore-prefixed dir succeed (the filter only hides it from
    * PARENT-dir listings) but log a cosmetic "All paths were ignored"
    * WARN — expected, same trick as _spark_metadata/_delta_log. */
  def requireSidecar(spark: SparkSession, indexPath: String, dir: String,
      what: String, buildHint: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    require(hasSidecar(spark, indexPath, dir),
      s"no $dir sidecar at $indexPath — not $what (or the write did not " +
        s"complete); build with $buildHint")
    fs(spark, s"$indexPath/$dir")
  }

  /** (version, generation dir name) pairs present in the manifest,
    * ascending; empty if the root has no manifest yet. */
  def entries(spark: SparkSession, rootPath: String): Seq[(Int, String)] = {
    val (f, p) = fs(spark, s"$rootPath/$ManifestDir")
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(v) =>
          val in = f.open(st.getPath)
          val gen = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          Some((v.toInt, gen))
        case _ => None
      }
    }.sortBy(_._1)
  }

  /** Current index DATA path under a versioned root; `buildHint` names
    * the entry point that creates one (error-message ergonomics). */
  def currentPath(spark: SparkSession, rootPath: String, buildHint: String): String = {
    val es = entries(spark, rootPath)
    require(es.nonEmpty,
      s"no $ManifestDir at $rootPath — not a versioned index root " +
        s"(build one with $buildHint)")
    s"$rootPath/${es.last._2}"
  }

  /** Install `genName` as the current generation: one no-overwrite
    * create of the next manifest version file. Throws if a concurrent
    * installer won the version (the caller's generation dir remains,
    * unreferenced — safe to retry or retire). */
  def installGeneration(spark: SparkSession, rootPath: String,
      genName: String): Unit = {
    val next = entries(spark, rootPath).lastOption.map(_._1).getOrElse(0) + 1
    val (f, p) = fs(spark, f"$rootPath/$ManifestDir/v$next%08d")
    val out = f.create(p, false) // overwrite=false: the atomicity guarantee
    try out.write(genName.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The one generation swap: `write` a complete index into a fresh
    * generation dir, THEN install it — a crash before the install leaves
    * no manifest entry, so readers never see the partial write, and a
    * retry takes the next generation name (the orphan is reclaimed by a
    * later [[retireOldGenerations]]). Returns the new data path. */
  def installNext(spark: SparkSession, rootPath: String)(write: String => Unit): String = {
    val gen = nextGenName(spark, rootPath)
    write(s"$rootPath/$gen")
    installGeneration(spark, rootPath, gen)
    s"$rootPath/$gen"
  }

  /** [[installNext]] for a generation derived from the current one
    * (compaction, re-bucketing): `rewrite(currentPath, newPath)`. */
  def rewriteCurrent(spark: SparkSession, rootPath: String, buildHint: String)(
      rewrite: (String, String) => Unit): String = {
    val src = currentPath(spark, rootPath, buildHint)
    installNext(spark, rootPath)(rewrite(src, _))
  }

  /** Name of the next generation dir under the root. Regex, not a bare
    * toInt on the suffix: a stray `gen-tmp` scratch dir under the root
    * must not kill every future build. */
  def nextGenName(spark: SparkSession, rootPath: String): String = {
    val (f, p) = fs(spark, rootPath)
    val existing = if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq
      .map(_.getPath.getName).collect { case GenRe(n) => n.toInt }
    f"$GenPrefix${existing.maxOption.getOrElse(0) + 1}%08d"
  }

  /** Delete every generation dir STRICTLY OLDER than the current one
    * (the retire half of the swap). Returns the deleted paths.
    * Strictly-older, not merely non-current: a concurrent builder may
    * have fully written a HIGHER generation it has not yet installed —
    * deleting it here would leave its imminent manifest flip pointing
    * at a missing directory. Newer-than-current dirs are either about
    * to be installed or are crash leftovers; crash leftovers are
    * reclaimed on a later retire, once a newer generation installs
    * above them. */
  def retireOldGenerations(spark: SparkSession, rootPath: String,
      buildHint: String): Seq[String] = {
    val current = currentPath(spark, rootPath, buildHint)
    val currentGen = current.substring(current.lastIndexOf('/') + 1) match {
      case GenRe(n) => n.toInt
      case other => throw new IllegalStateException(
        s"manifest points at a non-generation dir: $other")
    }
    val (f, p) = fs(spark, rootPath)
    f.listStatus(p).toSeq
      .map(_.getPath)
      .filter(gp => gp.getName match {
        case GenRe(n) => n.toInt < currentGen
        case _ => false
      })
      .map { gp => f.delete(gp, true); s"$rootPath/${gp.getName}" }
  }
}

/** Access-ordered LRU of VERIFIED sidecar reads keyed by the sidecar
  * dir's on-disk identity (every data file's path, mtime and length) —
  * an ingest loop probes + appends the SAME index per batch, and each
  * verified read costs a parquet job + collect, pure fixed cost at any
  * corpus size. A rebuilt/overwritten sidecar changes its file status,
  * so stale entries can never be returned. Eviction is per-entry
  * (`removeEldestEntry`), never wholesale — the BloomProbeHelper rule;
  * 64 live indexes per JVM is far beyond any real ingest loop. */
private[pipeline] final class SidecarCache[M](maxEntries: Int = 64) {
  private val memo =
    new java.util.LinkedHashMap[Seq[(String, Long, Long)], M](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[(String, Long, Long)], M]): Boolean =
        size() > maxEntries
    }

  /** The verified value for the sidecar at `dir`, loading (and caching)
    * via `load` on miss. `fs`/`dir` must point at the sidecar dir whose
    * part-files define the cache identity. */
  def getOrLoad(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path)(load: => M): M = {
    val key = fs.listStatus(dir).filter(_.getPath.getName.startsWith("part-"))
      .map(s => (s.getPath.toString, s.getModificationTime, s.getLen))
      .sortBy(_._1).toSeq
    memo.synchronized {
      val hit = memo.get(key)
      if (hit != null) return hit
    }
    val v = load
    memo.synchronized { memo.put(key, v); () }
    v
  }
}

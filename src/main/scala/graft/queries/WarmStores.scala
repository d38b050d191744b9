package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one warm-artifact primitive behind every persisted store and
  * fitted model the query registry reuses across calls (band/exact/
  * component indexes, the n-gram and histogram stores, the release
  * manifests, the media and cross-modal index families, the IVF/PQ vector
  * indexes, the moment store; the IVF/PQ/k-means models).
  *
  * Location: `<tmpdir>/graft_<kind>_<hex(dir.hashCode)><key>` plus the
  * [[dirTag]] content tag of the tables the artifact is a function of.
  * The tag makes reuse safe for any dir: a rewritten corpus re-keys to a
  * fresh path instead of being trusted, and two dirs with different bytes
  * never share an artifact. The shipped testdata is immutable by contract
  * and keeps the constant (empty) tag, so its paths are the historical
  * ones.
  *
  * Readiness is [[graft.ops.StoreSwap.committed]] over the artifact's
  * markers; with the tag in the path, existence IS validity. [[warm]]
  * holds one lock across that check and the build, and builds into a side
  * directory that is renamed onto the path only once complete — a crashed,
  * failed or concurrent build is never served.
  */
private[graft] object WarmStores {

  private def tmp: String = sys.props("java.io.tmpdir")

  /** `_pid<pid>`: the suffix that scopes an artifact to this process. */
  val pidTag: String = "_pid" + ProcessHandle.current().pid()

  /** `<tmpdir>/graft_<name>_pid<pid>` — a per-process root (dump-readback
    * oracle dumps, artifacts a query rewrites on every call), so two JVMs
    * over one tmpdir never race on it.
    */
  def pidDir(name: String): String = s"$tmp/graft_$name$pidTag"

  /** `<tmpdir>/graft_<kind>_<hex(dir.hashCode)><key>`: an artifact's
    * location before its content tag.
    */
  def pathFor(kind: String, dir: String, key: String = ""): String =
    s"$tmp/graft_${kind}_" + java.lang.Integer.toHexString(dir.hashCode) + key

  /** [[pathFor]] keyed by the content of `dir`'s `table`. */
  def keyed(
      s: SparkSession, kind: String, dir: String, key: String = "",
      table: String = "documents"): String =
    pathFor(kind, dir, key) + dirTag(s, dir, table)

  /** Content tag for `dir`, derived from the named top-level tables
    * (e.g. "documents", "embeddings"): a hash of every underlying parquet
    * file's (name, size, mtime) — O(file-listing), no data scan. "" for
    * the shipped testdata (immutable; zero I/O). A missing table
    * contributes nothing — callers name the tables their store is a
    * function of.
    */
  def dirTag(s: SparkSession, dir: String, tables: String*): String =
    if (dir.startsWith("/root/testdata")) ""
    else {
      val conf = s.sparkContext.hadoopConfiguration
      var acc = 1125899906842597L
      tables.sorted.foreach { t =>
        val p = new Path(s"$dir/$t.parquet")
        val fs = p.getFileSystem(conf)
        if (fs.exists(p)) {
          val it = fs.listFiles(p, true)
          val entries = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val f = it.next()
            entries += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
          }
          entries.sorted.foreach(e => acc = acc * 1000003L + e.hashCode)
        }
      }
      "_" + java.lang.Long.toHexString(acc)
    }

  /** Serve-or-build the artifact at `path`: ready when every marker
    * (relative to `path`; `_SUCCESS` when none is named) exists. Otherwise
    * `build` writes into `<path>.building_pid<pid>`, which is then
    * published:
    *   - a top-level marker means the directory IS the artifact: it
    *     replaces `path` whole, so no stale file of an earlier partial
    *     build survives;
    *   - markers under subdirectories name sub-artifacts of a shared root
    *     (a band index's bands/shingles beside its `exact_fp` and
    *     manifests): each built child replaces its namesake and the
    *     siblings stay, marker-bearing children last, so readiness flips
    *     only with the final rename.
    * A build that throws leaves only its side directory, which is dropped.
    */
  def warm(s: SparkSession, path: String, markers: String*)(build: String => Unit): String =
    synchronized {
      if (!graft.ops.StoreSwap.committed(s, path, markers: _*)) {
        val side = new Path(path + ".building" + pidTag)
        val fs = side.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(side, true)
        try build(side.toString)
        catch { case e: Throwable => fs.delete(side, true); throw e }
        // another process may have published the same content meanwhile
        if (graft.ops.StoreSwap.committed(s, path, markers: _*)) fs.delete(side, true)
        else publish(fs, side, new Path(path), markers)
      }
      path
    }

  /** [[warm]] for an artifact that is one zstd parquet frame. */
  def warmParquet(s: SparkSession, path: String)(df: => DataFrame): String =
    warm(s, path)(df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd").parquet(_))

  private def publish(fs: FileSystem, side: Path, path: Path, markers: Seq[String]): Unit = {
    def move(from: Path, to: Path): Unit = {
      fs.delete(to, true)
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"warm store: could not publish $from at $to")
    }
    if (markers.isEmpty || markers.exists(!_.contains('/'))) move(side, path)
    else {
      val heads = markers.map(_.takeWhile(_ != '/')).toSet
      fs.mkdirs(path)
      fs.listStatus(side).map(_.getPath).sortBy(c => heads(c.getName))
        .foreach(c => move(c, new Path(path, c.getName)))
      fs.delete(side, true)
    }
  }

  private val models = scala.collection.mutable.HashMap.empty[String, AnyRef]

  /** The in-memory twin of [[warm]] for fitted models (small,
    * deterministic fits): one map, keyed by `kind`, `dir` and the content
    * tag of `dir`'s embeddings, so a dir rewritten mid-session re-keys to
    * a fresh fit instead of serving a stale model.
    */
  def model[M <: AnyRef](s: SparkSession, kind: String, dir: String)(fit: => M): M =
    synchronized {
      models.getOrElseUpdate(s"$kind:$dir" + dirTag(s, dir, "embeddings"), fit)
        .asInstanceOf[M]
    }
}

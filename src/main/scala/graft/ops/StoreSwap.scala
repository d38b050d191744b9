package graft.ops

import org.apache.spark.sql.SparkSession

/** The house swap for write-aside store rewrites: publish `path + ".next"`
  * at `path` without ever holding the only complete copy in a half-deleted
  * state. The naive delete-then-rename (the original q149 shape) has a
  * crash window in which the live directory is already gone and `.next`
  * has not yet been renamed — recovery exists (`.next` is complete) but a
  * reader during the window sees a MISSING store, and the window is
  * O(delete) = O(files) long. Rename-aside inverts the order:
  *
  *   1. `path`      -> `path + ".old"`   (metadata-only)
  *   2. `path.next` -> `path`            (metadata-only)
  *   3. delete `path + ".old"`           (slow part, AFTER publication)
  *
  * At every instant a complete copy of some store version exists on disk
  * under a well-known name, the unreadable window shrinks to two renames,
  * and crash recovery is mechanical by inspection: `.next` present and
  * `path` absent -> redo step 2; `.old` present and `path` present ->
  * redo step 3. A stale `.old` from a previous crash is cleared first so
  * step 1 cannot collide. On a real object store (no atomic rename) the
  * production analogue is write-new -> repoint -> retire, which this
  * sequence degrades to gracefully.
  */
object StoreSwap {

  /** Prefix of the zero-byte exactly-once witness files a COUNT-keyed
    * store's retract stamps into its directory (underscore-named, so
    * every parquet read ignores them). A marker's presence means "this
    * retract already subtracted from THIS store" — the batch-witness
    * probe (`MediaDedupStream`/`ReleaseIngestStream` `hasBatch`) adapted
    * to stores whose rows carry no doc attribution after an absorb.
    * Markers are stamped into the `.next` directory BEFORE the swap, so
    * the marker publishes atomically with the subtracted store: a crash
    * before the swap leaves no marker and the retract re-runs cleanly; a
    * crash after leaves the marker and the re-run skips. [[swapInto]]
    * carries existing markers forward on every rewrite (absorbs,
    * compactions, later retracts all swap through it), so the witness
    * survives the store's whole lifecycle.
    */
  val RetractMarkerPrefix = "_retract_"

  private def markerFile(path: String, id: String): org.apache.hadoop.fs.Path = {
    val safe = id.map(c => if (c.isLetterOrDigit || c == '-' || c == '.') c else '_')
    new org.apache.hadoop.fs.Path(path, RetractMarkerPrefix + safe)
  }

  /** Has the retract named `id` already been applied to the store at
    * `path`? (See [[RetractMarkerPrefix]].)
    */
  def hasRetractMarker(spark: SparkSession, path: String, id: String): Boolean = {
    val m = markerFile(path, id)
    m.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(m)
  }

  /** Stamp the retract witness for `id` into a store directory — called
    * on the `.next` dir before [[swapInto]] so witness and subtraction
    * publish in one rename.
    */
  def stampRetractMarker(spark: SparkSession, dir: String, id: String): Unit = {
    val m = markerFile(dir, id)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) fs.create(m).close()
  }

  /** Committed check through the directory's OWN FileSystem (the
    * r13-advice discipline generalized): every named marker (relative to
    * `dir`; `_SUCCESS` when none is named) exists. `java.nio` only sees
    * the local filesystem, so a bootstrap/committed probe built on it
    * reads "absent" for every HDFS/object-store deployment — which
    * silently re-bootstraps over a live store. Shared by every
    * production-path existence check (stream bootstraps, optional-artifact
    * probes, warm-store readiness).
    */
  def committed(spark: SparkSession, dir: String, markers: String*): Boolean = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (if (markers.isEmpty) Seq("_SUCCESS") else markers)
      .forall(m => fs.exists(new org.apache.hadoop.fs.Path(d, m)))
  }

  /** Replace `path` with `path + ".next"` via rename-aside (see object
    * doc). Tolerates a missing live dir (first publication) and a stale
    * `.old` left by a prior crash. Retract witness markers
    * ([[RetractMarkerPrefix]]) present on the live store are carried
    * into `.next` before the swap so no rewrite can lose them.
    */
  def swapInto(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val next = new org.apache.hadoop.fs.Path(path + ".next")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    val fs = p.getFileSystem(conf)
    fs.delete(old, true)
    val hadLive = fs.exists(p)
    if (hadLive) {
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith(RetractMarkerPrefix))
        .foreach { name =>
          val t = new org.apache.hadoop.fs.Path(next, name)
          if (!fs.exists(t)) fs.create(t).close()
        }
    }
    if (hadLive && !fs.rename(p, old))
      throw new java.io.IOException(s"store swap: could not set aside $path")
    // FileSystem.rename signals failure BOTH ways depending on the
    // implementation — `false` on HDFS-style semantics, a thrown
    // IOException on e.g. RawLocalFileSystem when the source is missing —
    // so the publish guards against both.
    val published =
      try fs.rename(next, p)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!published) {
      // Step 2 failed with the live copy already set aside: roll it back so
      // a transient rename failure never strands the store at `.old` (a
      // caller retry would otherwise find `path` missing and turn a blip
      // into an outage). If the rollback itself fails the message says
      // where the surviving copy is.
      if (hadLive && !fs.rename(old, p))
        throw new java.io.IOException(
          s"store swap: could not publish $path.next AND rollback failed — live copy is at $path.old")
      throw new java.io.IOException(s"store swap: could not publish $path.next (live store restored)")
    }
    fs.delete(old, true)
    ()
  }
}

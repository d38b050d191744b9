package graft

import java.nio.file.{Files, Paths}

import graft.ops.StoreSwap
import graft.queries.WarmStores

/** The warm-artifact primitive: testdata artifacts keep their historical
  * names, and a store is served only once its build completed.
  */
class WarmStoresSpec extends SparkSpec {
  import spark.implicits._

  private def write(rows: Seq[Long], path: String): Unit =
    rows.toDF("v").write.mode("overwrite").parquet(path)

  private def read(path: String): Set[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSet

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  private def scratch(): String = Files.createTempDirectory("graft_warm").toString

  test("sf0.001 warm artifacts land at their historical paths") {
    val tmp = scratch()
    val saved = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = tmp
    try Seq("q66_dedup_incremental", "q121_incremental_thresholds", "q188_forget_residuals")
      .foreach(q => SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"))
    finally sys.props("java.io.tmpdir") = saved
    // literal names: hex("/root/testdata/sf0.001".hashCode) = d178f9eb, the
    // default banding fingerprint, the score kernel version, and the IVF
    // model's centroid fingerprint
    Seq(
      "graft_band_index_d178f9eb_k3p32b8r4v1/shingles/_SUCCESS",
      "graft_band_index_d178f9eb_k3p32b8r4v1/exact_fp/_SUCCESS",
      "graft_qhist_d178f9eb_v1/_SUCCESS",
      "graft_relman_d178f9eb/_SUCCESS",
      "graft_ivf_index_d178f9eb_ca5f8c0c/_SUCCESS"
    ).foreach(m => assert(exists(s"$tmp/$m"), s"missing $m in ${new java.io.File(tmp).list.sorted.mkString(", ")}"))
    assert(!new java.io.File(tmp).list.exists(_.contains(".building")),
      "no side directory may outlive its build")
  }

  test("a build that throws after writing part of its output is never served; the next call rebuilds") {
    val p = s"${scratch()}/store"
    val markers = Seq("a/_SUCCESS", "b/_SUCCESS")
    intercept[IllegalStateException] {
      WarmStores.warm(spark, p, markers: _*) { side =>
        write(Seq(1L), s"$side/a")
        throw new IllegalStateException("crash between the two sub-artifacts")
      }
    }
    assert(!StoreSwap.committed(spark, p, markers: _*) && !exists(s"$p/a"),
      "the half-built store must not be visible at its path")
    assert(!exists(p + ".building" + WarmStores.pidTag), "the failed side dir is dropped")
    var builds = 0
    def build(side: String): Unit = {
      builds += 1
      write(Seq(2L), s"$side/a")
      write(Seq(3L), s"$side/b")
    }
    WarmStores.warm(spark, p, markers: _*)(build)
    WarmStores.warm(spark, p, markers: _*)(build)
    assert(builds == 1, "a complete store is served, not rebuilt")
    assert(read(s"$p/a") == Set(2L) && read(s"$p/b") == Set(3L))
  }

  test("a stale side directory or a marker-less directory is not served") {
    val root = scratch()
    // a complete-looking side dir left by a crashed build: never read
    val p = s"$root/store"
    write(Seq(9L), p + ".building_pid1")
    WarmStores.warm(spark, p)(write(Seq(1L), _))
    assert(read(p) == Set(1L))

    // a whole-directory artifact without its marker is replaced whole: no
    // stale part file of the earlier attempt survives
    val q = s"$root/unmarked"
    write(Seq(9L), q)
    Files.delete(Paths.get(q, "_SUCCESS"))
    WarmStores.warm(spark, q)(write(Seq(1L), _))
    assert(read(q) == Set(1L))

    // a sub-artifact without its marker is rebuilt; its committed sibling
    // in the same root stays
    val r = s"$root/index"
    write(Seq(7L), s"$r/exact_fp")
    write(Seq(9L), s"$r/shingles")
    Files.delete(Paths.get(r, "shingles", "_SUCCESS"))
    WarmStores.warm(spark, r, "shingles/_SUCCESS")(side => write(Seq(1L), s"$side/shingles"))
    assert(read(s"$r/shingles") == Set(1L) && read(s"$r/exact_fp") == Set(7L))
  }

  test("rewriting a non-testdata dir changes the artifact path; testdata keeps the bare one") {
    val dir = scratch()
    def docs(ids: Seq[Long]): Unit =
      ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs(Seq(1L, 2L))
    val before = WarmStores.keyed(spark, "band_index", dir, "_k")
    assert(before == WarmStores.keyed(spark, "band_index", dir, "_k"), "same bytes, same path")
    docs(Seq(1L, 2L, 3L))
    val after = WarmStores.keyed(spark, "band_index", dir, "_k")
    assert(after != before, "a rewritten corpus must re-key")
    assert(after.startsWith(WarmStores.pathFor("band_index", dir, "_k") + "_"))
    val td = "/root/testdata/sf0.001"
    assert(WarmStores.keyed(spark, "band_index", td, "_k") ==
      WarmStores.pathFor("band_index", td, "_k"))
  }

  test("fitted models share one content-keyed map") {
    val dir = "/root/testdata/sf0.001"
    var fits = 0
    def fit(tag: String): String = { fits += 1; tag }
    val a = WarmStores.model(spark, "spec_a", dir)(fit("a"))
    assert(WarmStores.model(spark, "spec_a", dir)(fit("again")) eq a)
    assert(WarmStores.model(spark, "spec_b", dir)(fit("b")) == "b")
    assert(fits == 2, "one fit per (kind, dir, content)")
  }
}
